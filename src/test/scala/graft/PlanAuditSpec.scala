package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Structural plan-shape regression guard. The perf work of rounds
  * 1–3 (broadcast dims, exchange reuse, hash-aggregable signature
  * buffers, single-explode formulations, pushdown) is invisible to
  * the value-level oracle gates — a regression would only show as a
  * silent slowdown at scale. These tests pin the plan SHAPES, which
  * are scale-invariant, at toy SF. */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // streaming/sink gates execute eagerly in queries() and return a
  // sink table scan — nothing to audit in the returned plan
  private def auditableGates: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => n.startsWith("stream_") || n.startsWith("sink_"))

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan.toString

  // tiny bounded build sides crossed on purpose: the DF-cap scalar,
  // the IVF centroid set, the query vectors, the corpus-size scalar,
  // the LM model-total scalars
  private val intentionalNestedLoop = Set(
    "dedup_ngram_jaccard_capped", "sim_ann_ivf", "sim_cosine_topk", "text_tfidf",
    "sim_semantic_dedup", "text_lm_score", "text_dsir_filter",
    "q30_null_semantics", // 1-row scalar cross (counts × diagonal)
    "sim_ann_recall", // composes sim_cosine_topk's intentional query broadcast
    "sim_ann_filtered", // corpusWithCells' K-constant-centroid cross, as sim_ann_ivf
    "pipeline_train_build", // inherits text_dsir_filter's 1-row totals scalar cross
    // 4-element nprobe-axis broadcast (probe_rank <= nprobe is a
    // non-equi join against a literal array) + the ground-truth
    // query broadcast, both bounded by construction
    "sim_ann_recall_curve_768",
    // 1-row confusion-matrix agg × 1-row candidate-count agg
    "dedup_lsh_eval",
    // nlist-row (16 at gate scale) broadcast centroid cross for the
    // cell assignment — the same bounded-constant cross as
    // sim_ann_ivf/sim_ann_filtered, at 768 dims
    "sim_semantic_dedup_768",
    // shares dedup_ngram_jaccard_capped's DF-cap scalar cross
    "dedup_ngram_containment",
    // 1-row broadcast vocab MAP crossed onto every doc — the whole
    // point of the BPE fold is that the vocab arrives without a
    // shuffle (text_seq_pack_bpe hides the same cross behind its
    // localCheckpoint, so only the tokens gate shows it)
    "text_tokens_bpe",
    // the persisted-index probe computes its QUERY-side structures
    // live: the <=NumQueries checkpointed query rows cross the
    // broadcast model tables (nlist=16 centroid rows, M*K=96
    // codebook rows) — bounded by the model size, never the corpus
    "sim_ann_ivfpq_persisted",
    // same query-side crosses, visible since opt r13 dropped the
    // Q-scale cellDistQ/lut checkpoints from buildIvf768 (their
    // vec_id<Q filters push below the broadcast crossJoins, so the
    // lazy re-derivation touches only query rows)
    "sim_ann_ivfpq_768_prod")

  test("no gate plans a cartesian product; nested-loop only where intended") {
    val offenders = auditableGates.flatMap { n =>
      val p = planOf(n)
      val cart = if (p.contains("CartesianProduct")) Some(s"$n: CartesianProduct") else None
      val bnlj = if (p.contains("BroadcastNestedLoopJoin") && !intentionalNestedLoop(n))
        Some(s"$n: unexpected BroadcastNestedLoopJoin") else None
      cart ++ bnlj
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("no gate plans a SortAggregate (all aggregation buffers stay hash-able)") {
    // q25_profile + the news dedup/quality pair: min/max over STRING
    // columns can never hash-agg (var-length buffer); q25's dedicated
    // test below pins the sort to the tiny distinct-value sets, and
    // the news gates sort-agg per article id because they carry the
    // headline/summary payload through min/max — |articles| rows on
    // the id clustering, not a scan-sized sort.
    val stringAggGates = Set("q25_profile", "alpaca_news_dedup",
      "alpaca_news_quality",
      // same article-id dedup carrying headline/symbols through
      // min/max STRING buffers: |articles| rows on the id clustering
      "alpaca_news_sentiment", "alpaca_news_return",
      // collated (UTF8_LCASE) grouping keys plan sort-based in Spark
      // 4.1, and the gate's min(STRING) key_repr is a var-length
      // buffer anyway; |event_types| = 5 groups, a bounded sort
      "q36_collation",
      // min/max over a STRUCT buffer (the gate's whole point —
      // lexicographic ROW ordering as the shuffle-free argmin idiom)
      // is not hash-aggregable by construction; 15 groups, partial
      // sort-agg map-side
      "q62_struct_ops")
    val offenders = auditableGates.filterNot(stringAggGates)
      .filter(n => planOf(n).contains("SortAggregate"))
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("sim_kmeans: assignment is projection-only (two exchanges total)") {
    // centroids are literals, so the final assignment pass must plan
    // as scan → projections → partial agg; the ONLY exchanges are the
    // K-row aggregation and the final K-row sort. A join, window, or
    // extra exchange here means assignment regressed to a shuffle.
    val p = planOf("sim_kmeans")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"kmeans assignment gained a shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"kmeans assignment should be pure projections:\n$p")
  }

  test("q28_rolling_range: one user_id exchange feeds the range-frame window") {
    // executedPlan: exchanges exist only after EnsureRequirements
    val p = SparkEntry.queries("q28_rolling_range")(spark, dir)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(hashExchanges == 1, s"rolling window should shuffle once on user_id:\n$p")
    assert(p.contains("specifiedwindowframe(RangeFrame"),
      s"expected a RANGE frame in:\n$p")
  }

  test("q63_scd2: change-detect and interval-assembly windows share one custkey exchange") {
    // both lag() (change detection) and row_number()/lead() (interval
    // assembly) partition on o_custkey with the same ordering; the
    // filter between them is narrow, so EnsureRequirements must plan
    // exactly ONE hash exchange for the whole build
    val p = SparkEntry.queries("q63_scd2")(spark, dir)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).size
    assert(hashExchanges == 1, s"SCD2 build should shuffle once on o_custkey:\n$p")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 2, s"expected two Window nodes in:\n$p")
  }

  test("q25_profile: sort aggregates only above the hash distinct pass") {
    val plan = SparkEntry.queries("q25_profile")(spark, dir)
      .queryExecution.sparkPlan
    val sorts = plan.collect {
      case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec => s
    }
    assert(sorts.nonEmpty, "string min/max should still plan (tiny) sort aggregates")
    // every sort aggregate folds a HASH aggregate's output (the
    // per-value distinct pass) — never the raw scan
    sorts.foreach { s =>
      val hashBelow = s.children.exists(_.collectFirst {
        case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
      }.isDefined)
      assert(hashBelow, s"SortAggregate directly over the scan:\n$s")
    }
  }

  test("text_bloom_decontam: map-side bloom prefilter, exchange-free probe branch") {
    // The 100 TB contract of the Bloom rework: the train side is
    // prefiltered by the codegen'd graft_bloom_might_contain probe
    // BELOW the confirm join, and the probe branch (scan → explode →
    // bloom filter → join) carries NO exchange — the only gram-keyed
    // shuffle in the whole plan is the bounded build-side distinct of
    // the benchmark grams. The confirm join must broadcast that
    // bounded side, never sort-merge the corpus.
    val p = SparkEntry.queries("text_bloom_decontam")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_bloom_might_contain"),
      s"bloom prefilter missing from the plan:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"confirm join must broadcast the bounded benchmark grams:\n$p")
    // textual tree order: the streamed (probe) branch prints between
    // the join node and its BroadcastExchange build side
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val exchangeIdx = p.indexOf("BroadcastExchange")
    assert(joinIdx >= 0 && joinIdx < exchangeIdx,
      s"expected BroadcastHashJoin to print before its BroadcastExchange build:\n$p")
    val probeBranch = p.substring(joinIdx, exchangeIdx)
    assert(probeBranch.contains("graft_bloom_might_contain"),
      s"bloom probe must sit on the streamed train branch:\n$p")
    // the contract is about GRAMS: nothing between the confirm join
    // and the gram explode (Generate) may shuffle — exploded grams are
    // ~66× the doc rows and moving them is the 100 TB hazard. BELOW
    // the Generate, the r13 parallelism-floor repartition of the raw
    // (doc_id, text) rows is allowed: it carries docs, not grams, and
    // exists so the explode+md5 map stage isn't serialized on the
    // one-file gate corpus's single input partition.
    // anchor on the GRAM explode specifically — the Generate whose
    // output list binds gram# — not the first Generate in the branch
    // (ADVICE r13 #3: a future plan inserting another Generate above
    // it would silently shrink the no-exchange region this protects)
    val genIdx = "Generate [^\n]*\\[gram#".r
      .findFirstMatchIn(probeBranch).map(_.start).getOrElse(-1)
    assert(genIdx >= 0, s"gram explode missing from the probe branch:\n$p")
    assert(!probeBranch.substring(0, genIdx).contains("Exchange"),
      s"gram-side shuffle appeared between explode and confirm join " +
        s"(train grams must never exchange):\n$p")
  }

  test("dedup_incremental_minhash: SMJ band probe, in-join threshold, partial best-match") {
    // The incremental probe must sort-merge the band index (a
    // broadcast of the linearly-growing corpus bands is the 100 TB
    // scale-killer MinHashLsh.pairs documents), evaluate the
    // codegen'd MatchCountF eq-count + >= threshold INSIDE the join
    // (pairs below the near-dup bar die before the distinct), and
    // plan best-match selection as a Partial+Final WindowGroupLimit
    // so each map partition ships at most one row per batch doc.
    val p = SparkEntry.queries("dedup_incremental_minhash")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin [band_id"),
      s"band probe must be a sort-merge join on the band keys:\n$p")
    val smj = p.substring(p.indexOf("SortMergeJoin [band_id"))
      .linesIterator.next()
    assert(smj.contains("graft_match_count"),
      s"eq-count threshold should evaluate inside the band join:\n$p")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"best-match top-1 should plan a partial WindowGroupLimit:\n$p")
  }

  test("dedup_incremental_minhash_prod probes the PERSISTED index (no corpus shingle scan)") {
    // VERDICT r12 next #3: the probe plan must read the bucketed
    // band-index table for the corpus side — documents.parquet may
    // appear ONLY for the delta slice, and the corpus side must carry
    // no shingle Generate/aggregate (that O(corpus) work happens once
    // at index build, not per probe)
    val p = SparkEntry.queries("dedup_incremental_minhash_prod")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("band_index"),
      s"probe must scan the persisted index table:\n$p")
    // only DELTA-side shingle explodes: the spine (distinct batch
    // doc_ids) and the probe each derive the delta's bands — two
    // delta-sized Generates. The corpus side arriving pre-banded from
    // storage is the point: a third Generate means the O(corpus)
    // re-derivation crept back.
    val shingleGens = "\\[shingle#".r.findAllIn(p).size
    assert(shingleGens == 2,
      s"expected the two delta-side shingle Generates, found $shingleGens:\n$p")
    // every documents scan must be delta-filtered (doc_id % 5 = 0) —
    // no unfiltered corpus text scan survives in the probe plan
    val docScanFilters = p.linesIterator
      .filter(_.contains("documents.parquet")).toSeq
    assert(docScanFilters.nonEmpty &&
      p.linesIterator.filter(_.contains("FileScan parquet"))
        .filter(_.contains("documents.parquet"))
        .forall(_.contains("% 5) = 0")),
      s"a documents scan without the delta filter survives:\n$p")
  }

  test("single-explode formulations stay single-explode") {
    Seq("text_tfidf", "text_repetition").foreach { n =>
      val gens = "Generate".r.findAllIn(planOf(n)).size
      assert(gens == 1, s"$n explodes $gens times (expected 1)")
    }
  }

  test("text_chunk_dedup: two-level hot-chunk agg, no window over the chunk partition") {
    // The boilerplate-df count must be a partial-aggregable groupBy on
    // the 8-byte xxhash64 key (hot chunk → one row per map partition),
    // NOT a window over the raw chunk partition (hot chunk → all its
    // rows in one reducer — the r3 scale-killer). The aggregate is
    // FILTERED to over-threshold chunks before the LEFT join back, so
    // the build side is bounded by the boilerplate vocabulary. The
    // explode is deliberately recomputed for the join's probe branch:
    // exactly 2 Generates, a projection recompute being cheaper at
    // 100 TB than any skewed exchange.
    val p = planOf("text_chunk_dedup")
    assert(!p.contains("Window"),
      s"chunk df must not be a window over the chunk partition:\n$p")
    assert(p.contains("xxhash64"),
      s"chunk df should aggregate on the 8-byte xxhash64 key:\n$p")
    assert(p.contains("LeftOuter") || p.contains("BuildRight"),
      s"keep/drop should be a left join against the boilerplate set:\n$p")
    assert(p.contains("(df") && p.contains(">= 5"),
      s"build side should be filtered to boilerplate (df >= threshold):\n$p")
    val gens = "Generate".r.findAllIn(p).size
    assert(gens == 2, s"expected 2 Generates (df branch + probe branch), got $gens:\n$p")
    // two-phase agg on the chunk key: partial + final HashAggregate
    // pairs for both the df count and the doc reassembly
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"df count should be a two-phase hash aggregation:\n$p")
  }

  test("text_source_cap: partial WindowGroupLimit runs BELOW the source exchange") {
    // Fixed per-source N caps must pre-filter map-side: the plan needs
    // TWO WindowGroupLimits (Partial under the exchange, Final above),
    // so a billion-doc domain ships N × |map partitions| rows, not a
    // billion, to its reducer.
    val p = SparkEntry.queries("text_source_cap")(spark, dir)
      .queryExecution.executedPlan.toString
    val limits = "WindowGroupLimit".r.findAllIn(p).size
    assert(limits == 2, s"expected partial+final WindowGroupLimit, got $limits:\n$p")
    // the partial one must appear AFTER (deeper than) the source exchange
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(source")
    assert(exchangeIdx >= 0, s"no source exchange found:\n$p")
    assert(p.indexOf("WindowGroupLimit", exchangeIdx) >= 0,
      s"no partial WindowGroupLimit below the source exchange:\n$p")
  }

  test("pack _prod twins: cumsum window is partitioned by (key, bucket), never key alone") {
    // The r11 fix for the engine's last single-task-per-key shape:
    // the running token sum must plan as a Window partitioned by the
    // LOW-cardinality key PLUS the doc_id-range bucket (parallel
    // across buckets), with the per-bucket offsets arriving via a
    // broadcast-hash join — NOT as one sequential window per source/
    // lang (which funnels each key's whole corpus through one task).
    Seq("text_seq_pack_prod" -> "source", "text_shard_pack_prod" -> "lang")
      .foreach { case (gate, key) =>
        val p = planOf(gate)
        val spec = s"windowspecdefinition\\($key#\\d+, _graft_psum_bucket".r
        assert(spec.findFirstIn(p).isDefined,
          s"$gate: window must be partitioned by ($key, bucket):\n$p")
        val naive = s"windowspecdefinition\\($key#\\d+, doc_id".r
        assert(naive.findFirstIn(p).isEmpty,
          s"$gate: a per-$key-only window survives (single-task funnel):\n$p")
        assert(p.contains("BroadcastHashJoin"),
          s"$gate: bucket offsets must arrive via broadcast-hash join:\n$p")
      }
  }

  test("text_seq_pack_shuffled: shuffled-order cumsum stays bucketed, never per-source") {
    // The shuffled pack sorts by the md5 key, so its "naive" shape
    // would be a window partitioned by source alone and ORDERED by k
    // — the same single-task-per-source funnel, in shuffle clothing.
    // The plan must show the (source, bucket) window and no
    // source-only windowspec of any order key.
    val p = planOf("text_seq_pack_shuffled")
    assert("windowspecdefinition\\(source#\\d+, _graft_psum_bucket".r
      .findFirstIn(p).isDefined,
      s"shuffled pack window must be partitioned by (source, bucket):\n$p")
    assert("windowspecdefinition\\(source#\\d+, [kd]".r.findFirstIn(p).isEmpty,
      s"a per-source-only window survives in the shuffled pack:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets must arrive via broadcast-hash join:\n$p")
  }

  test("pipeline pack stages ride the distributed prefix (no per-source window)") {
    // trainBuild's sort is (dsir_weight DESC, doc_id) → its bucket is
    // the log-scaled weight; dailyDelta packs by doc_id → range
    // bucket. Both must show the (key, bucket) window and no window
    // partitioned by source alone in the pack tail. (The upstream
    // curation/dedup stages are checkpointed, so the audited plan IS
    // the pack tail.)
    Seq("pipeline_daily_delta", "pipeline_train_build").foreach { gate =>
      val p = planOf(gate)
      assert("windowspecdefinition\\(source#\\d+, _graft_psum_bucket".r
        .findFirstIn(p).isDefined,
        s"$gate: pack window must be partitioned by (source, bucket):\n$p")
      val naiveDoc = "windowspecdefinition\\(source#\\d+, doc_id".r
      val naiveW = "windowspecdefinition\\(source#\\d+, dsir_weight".r
      assert(naiveDoc.findFirstIn(p).isEmpty && naiveW.findFirstIn(p).isEmpty,
        s"$gate: a per-source-only pack window survives:\n$p")
    }
  }

  test("text_global_shuffle: bucketed rank window + broadcast offsets, no global sort window") {
    // The shuffle position must come from Ranks.globalRowNumber's
    // monotone-bucket form: a window PARTITIONED by the key's first
    // hex byte (256-way parallel) plus broadcast per-bucket offsets —
    // never row_number() OVER (ORDER BY k), whose empty partition
    // spec funnels the whole corpus through one task.
    val p = planOf("text_global_shuffle")
    assert(p.contains("windowspecdefinition(_graft_rank_bucket"),
      s"rank window must be partitioned by the monotone bucket:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"bucket offsets must arrive via a broadcast join:\n$p")
    // an empty-partition windowspec starts directly with the order key
    assert(!"windowspecdefinition\\(k#\\d+ ASC".r.findFirstIn(p).isDefined,
      s"a global (single-partition) rank window survives:\n$p")
  }

  test("q70_skew_join_salted: the fact⋈dim join key carries the salt") {
    // The salted join must actually shuffle on (event_type, salt) —
    // if the salt is projected but the join plans on event_type alone
    // (or the dim gets broadcast, short-circuiting the mechanism),
    // the skew bound the gate documents does not exist.
    val p = planOf("q70_skew_join_salted")
    val keys = "(?:SortMergeJoin|ShuffledHashJoin) \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(keys.contains("event_type") && keys.contains("salt"),
      s"expected (event_type, salt) join keys, got [$keys] in:\n$p")
  }

  test("text_quality_percentile_prod: threshold from the histogram, never a doc-stream sort") {
    // The production percentile filter must compute its per-source
    // threshold over the tiny (source, bucket) HISTOGRAM — the only
    // window orders by the bucket id above a HashAggregate — and
    // return it to the stream via broadcast. A window ordered by
    // quality_score would be the exact gate's full per-source sort of
    // every document, the shape this gate exists to avoid.
    val p = planOf("text_quality_percentile_prod")
    assert("windowspecdefinition\\(source#\\d+, quality_score".r
      .findFirstIn(p).isEmpty,
      s"doc-stream window over quality_score (full per-source sort):\n$p")
    assert("windowspecdefinition\\(source#\\d+, b#\\d+L? DESC".r
      .findFirstIn(p).isDefined,
      s"expected the cumulative window over histogram buckets:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"thresholds must return via broadcast-hash join:\n$p")
  }

  test("text_lm_score: vocab cap is a partial top-V, not a global row_number") {
    // The top-V vocabulary cut must plan as TakeOrderedAndProject
    // (per-partition V-element heaps, driver merge) — a global
    // row_number window would single-partition-sort the entire
    // post-agg vocabulary, billions of distinct bigrams at 100 TB.
    val p = planOf("text_lm_score")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject for the top-V cap:\n$p")
    assert(!p.contains("Window"),
      s"no window should remain in the lm_score plan:\n$p")
  }

  test("text_dsir_filter: BOTH model broadcasts are behind a top-V cap") {
    // The r4 verdict's last prose-only scale design: the corpus bigram
    // model used to broadcast the UNCAPPED distinct-bigram aggregate
    // (billions of rows at 100 TB — broadcast build fails outright).
    // Both models must now plan their cap as TakeOrderedAndProject
    // (per-partition V-heaps) feeding the BroadcastExchange, and no
    // global row_number window may do the cut.
    val p = planOf("text_dsir_filter")
    // 4 = 2 model join sides + 2 totals branches (the totals recompute
    // the capped model; sparkPlan has no exchange reuse — at runtime
    // AQE reuses the aggregation). What matters: NO model branch lacks
    // its cap.
    val caps = "TakeOrderedAndProject".r.findAllIn(p).size
    assert(caps == 4, s"expected a top-V cap on BOTH models (+totals), got $caps:\n$p")
    assert(!p.contains("Window"),
      s"no window may remain in the dsir plan (cap must be partial):\n$p")
    // both model joins must still be broadcast-hash (the probe never
    // shuffles on the Zipf bigram key); exchanges themselves only
    // materialize in executedPlan, so count the join nodes
    assert("BroadcastHashJoin \\[bigram".r.findAllIn(p).size == 2,
      s"both model joins should be broadcast-hash on bigram:\n$p")
  }

  test("sim_cosine_topk: partial WindowGroupLimit below the query_id exchange") {
    // The exact-baseline scale path: scoring emits |corpus|×|queries|
    // rows, and without a map-side partial top-k the per-query window
    // would pull all of them through the query_id shuffle. The
    // row_number ≤ k filter must plan TWO WindowGroupLimits — Partial
    // BELOW the exchange (per-partition k-heaps), Final above — so
    // each map partition ships at most k rows per query.
    val p = SparkEntry.queries("sim_cosine_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    val limits = "WindowGroupLimit".r.findAllIn(p).size
    assert(limits == 2, s"expected partial+final WindowGroupLimit, got $limits:\n$p")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(query_id")
    assert(exchangeIdx >= 0, s"no query_id exchange found:\n$p")
    assert(p.indexOf("WindowGroupLimit", exchangeIdx) >= 0,
      s"no partial WindowGroupLimit below the query_id exchange:\n$p")
  }

  test("sim_ann_ivfpq_768: production-dim plan keeps the 64-dim shapes") {
    // Dimensionality must enter ONLY through the codegen'd DotProductF
    // loop — the plan skeleton (broadcast equi-joins for routing/LUT,
    // partial+final WindowGroupLimits for every top-k, no cartesian
    // anywhere) has to be identical to the 64-dim gate's. A per-element
    // expression chain here would hit the r2 Janino megamethod wall;
    // graft_dot in the plan proves the native loop is what scores.
    val p = SparkEntry.queries("sim_ann_ivfpq_768")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_dot"), s"re-rank not scored by DotProductF:\n$p")
    val limits = "WindowGroupLimit".r.findAllIn(p).size
    assert(limits >= 4,
      s"expected partial+final WindowGroupLimits on the ADC and re-rank top-k, got $limits")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"768-dim stack must stay on bounded equi-joins:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"routing/LUT/query joins should broadcast their bounded sides:\n$p")
  }

  test("sim_ann_ivfpq_persisted probes the PERSISTED index (no corpus assign/encode)") {
    // r13 persisted-index contract, the ANN twin of the
    // dedup_incremental_minhash_prod proof: the corpus-side frames
    // must be scans of the bucketed artifact tables — the O(N·nlist)
    // assignment and O(N·M·K) encode happen once at index build,
    // never in a probe plan.
    val p = SparkEntry.queries("sim_ann_ivfpq_persisted")(spark, dir)
      .queryExecution.executedPlan.toString
    Seq("graft_ann_cells_", "graft_ann_codes_").foreach { tbl =>
      val line = p.linesIterator.find(_.contains(tbl))
      assert(line.isDefined, s"probe must scan the persisted $tbl table:\n$p")
      assert(line.get.contains("Bucketed: true"),
        s"$tbl scan lost its bucket spec (the codes⋈cells join key):\n${line.get}")
    }
    // the only nested-loop joins are the two query-side model crosses
    // (query→centroid distances, query LUT), each streaming the
    // checkpointed ≤NumQueries query rows — never a parquet corpus scan
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 2,
      s"expected exactly the two query-side model crosses:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size == 2,
      s"both crosses must stream the checkpointed query rows:\n$p")
    // embeddings.parquet appears exactly twice — the re-rank candidate
    // fetch (with the candidate side explicitly broadcast) and the
    // query-vector fetch; the corpus assignment scan is gone
    val embScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet [") && l.contains("embeddings.parquet"))
    assert(embScans == 2,
      s"expected exactly the 2 re-rank embeddings scans, found $embScans:\n$p")
  }

  test("alpaca analytics: scan-reported symbol partitioning deletes the window exchange") {
    // The connector plans symbol-pure partitions and (with
    // cluster_by_symbol) reports KeyGroupedPartitioning(symbol) plus
    // [symbol, time] ordering — so every symbol-window/agg gate must
    // run directly over the BatchScan: no hashpartitioning Exchange,
    // and no Sort between the Window and the scan. The only exchange
    // left is the final presentation orderBy (rangepartitioning).
    // executedPlan: exchanges exist only after EnsureRequirements.
    Seq("alpaca_vwap_daily", "alpaca_rsi", "alpaca_sma_crossover",
      "alpaca_bollinger", "alpaca_drawdown").foreach { n =>
      val p = SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"$n still pays a symbol shuffle before its window/agg:\n$p")
      val windowIdx = p.indexOf("Window ")
      if (windowIdx >= 0)
        assert(!p.substring(windowIdx).contains("Sort "),
          s"$n still sorts below its window (scan order should satisfy it):\n$p")
    }
  }

  test("alpaca_spj_bars_trades: storage-partitioned join, zero shuffle exchanges") {
    // Both scans report KeyGroupedPartitioning(symbol); with v2
    // bucketing on, the per-symbol aggregates AND the join satisfy
    // their distributions straight from storage. The ONLY exchange
    // allowed is the final presentation orderBy (rangepartitioning).
    val p = SparkEntry.queries("alpaca_spj_bars_trades")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange keygroupedpartitioning"),
      s"SPJ bars⋈trades pays a join-side shuffle:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"expected a non-broadcast join proving SPJ:\n$p")
  }

  test("alpaca_spj_parquet_enrich: only the parquet side shuffles, into the scan's key grouping") {
    val p = SparkEntry.queries("alpaca_spj_parquet_enrich")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"expected no hash exchange anywhere (scan side must not move):\n$p")
    val kg = "Exchange keygroupedpartitioning".r.findAllIn(p).size
    assert(kg == 1, s"expected exactly one keygrouped exchange (parquet side), got $kg:\n$p")
    // the keygrouped exchange must sit over the FileScan, not the BatchScan
    val kgIdx = p.indexOf("Exchange keygroupedpartitioning")
    assert(p.indexOf("FileScan parquet", kgIdx) >= 0 &&
      (p.indexOf("BatchScan", kgIdx) < 0 ||
        p.indexOf("FileScan parquet", kgIdx) < p.indexOf("BatchScan", kgIdx)),
      s"keygrouped exchange is not over the parquet side:\n$p")
  }

  test("scan-reported statistics: small bars scan auto-broadcasts, 5-year minute scan reports large") {
    def barsScan(timeframe: String, end: String) =
      spark.read.format("Alpaca_Stocks_Bars").options(Map(
        "endpoint" -> graft.stub.AlpacaStubServer.endpoint,
        "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
        "symbols" -> "['AAPL']", "timeframe" -> timeframe,
        "start" -> "2021-01-04T00:00:00Z", "end" -> end)).load()
    // grid bound: 48 hourly bars → a few KB; 5y of minute bars → >100 MB
    val small = barsScan("1Hour", "2021-01-06T00:00:00Z")
    val big = barsScan("1Min", "2026-01-04T00:00:00Z")
    val smallStats = small.queryExecution.optimizedPlan.stats
    val bigStats = big.queryExecution.optimizedPlan.stats
    assert(smallStats.sizeInBytes < BigInt(1000000),
      s"small scan should report small: ${smallStats.sizeInBytes}")
    assert(bigStats.sizeInBytes > BigInt(100000000),
      s"big scan should report large: ${bigStats.sizeInBytes}")
    // and the cost model acts on it: equi-join with NO hint broadcasts
    // the scan side (the BatchScan sits under the BroadcastExchange)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val p = docs.join(small, col("doc_id") === col("volume"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"expected auto-broadcast:\n$p")
    val bcastIdx = p.indexOf("BroadcastExchange")
    assert(bcastIdx >= 0 && p.indexOf("BatchScan", bcastIdx) >= 0,
      s"expected the Alpaca scan under the BroadcastExchange:\n$p")
  }

  test("q3 broadcasts its dimension side; q4 plans TakeOrderedAndProject") {
    assert(planOf("q3_join_agg").contains("BroadcastHashJoin"))
    assert(planOf("q4_topk").contains("TakeOrderedAndProject"))
  }

  test("q2 filters reach the parquet scan as PushedFilters") {
    assert(planOf("q2_filter_proj").contains("PushedFilters: ["))
  }

  test("sim_semantic_dedup reuses the corpus-with-cells exchange (AQE off)") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("sim_semantic_dedup")(spark, dir)
        .queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"), "cell pipeline computed twice")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("pipeline_curate reuses the signature exchange (AQE off)") {
    // static ReusedExchange only materializes in the pre-execution
    // plan with AQE disabled; under AQE reuse happens at runtime
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // ReuseExchange is an executedPlan preparation rule — it never
      // appears in sparkPlan
      val p = SparkEntry.queries("pipeline_curate")(spark, dir)
        .queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"), "signature pipeline computed twice")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
