package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * End-to-end corpus-curation pipeline — the composed 100 TB use case:
 * score every document (quality), near-dedup with MinHash+LSH (drop
 * the higher doc_id of each candidate pair with est-Jaccard ≥ 0.5),
 * keep documents above the quality bar, and report corpus stats per
 * predicted language.
 *
 * Every stage is one of this engine's gate operators, so the whole
 * pipeline inherits their scale shapes: projection-only scoring,
 * band-join dedup, one anti-join on the (tiny) drop list, and a final
 * partial aggregation. The DuckDB oracle composes the same CTEs —
 * the hash match certifies the full pipeline, not just its pieces.
 * Double stats are min/max (order-independent); sums are integral.
 */
object Pipeline {
  import MinHashLsh.{Prod, Small}

  private val QualityBar = 0.55

  def curate(spark: SparkSession, dir: String): DataFrame = {
    val quality = TextOps.qualityCore(spark, dir)
    val dropped = Small.pairs(Tables.t(spark, dir, "documents"))
      .filter(col("est_jaccard") >= Small.threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    curatedReport(quality, dropped)
  }

  val curateSql: String =
    curatedReportSql(Small.pairsCtes,
      s"""dropped AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM est_pairs
         |  WHERE est_jaccard >= ${Small.threshold})""".stripMargin)

  /** The curation tail every curate gate shares: anti-join the drop
    * list, keep documents above the quality bar, and report corpus
    * stats per predicted language. */
  private def curatedReport(quality: DataFrame, dropped: DataFrame): DataFrame = {
    val predicted = when(col("stop_ratio") >= 0.06, lit("en"))
      .otherwise(lit("unk")).as("predicted_lang")
    quality
      .join(dropped, Seq("doc_id"), "left_anti")
      .filter(col("quality_score") >= QualityBar)
      .select(col("doc_id"), col("n_chars_actual"), col("quality_score"),
        predicted)
      .groupBy(col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars_actual")).as("sum_chars"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality"))
      .orderBy(col("predicted_lang"))
  }

  /** Oracle of [[curatedReport]]: `dedupCtes` (a MinHash CTE bundle),
    * the `quality` CTE, then `dropCtes` ending in `dropped` (doc_id). */
  private def curatedReportSql(dedupCtes: String, dropCtes: String): String =
    s"""WITH RECURSIVE $dedupCtes,
       |quality AS (${TextOps.qualitySelectSql}),
       |$dropCtes,
       |curated AS (
       |  SELECT doc_id, n_chars_actual, quality_score,
       |    CASE WHEN stop_ratio >= 0.06 THEN 'en' ELSE 'unk' END AS predicted_lang
       |  FROM quality
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
       |    AND quality_score >= $QualityBar)
       |SELECT predicted_lang, COUNT(*) AS n_docs, CAST(SUM(n_chars_actual) AS BIGINT) AS sum_chars,
       |  MIN(quality_score) AS min_quality, MAX(quality_score) AS max_quality
       |FROM curated
       |GROUP BY predicted_lang
       |ORDER BY predicted_lang""".stripMargin

  /** Curation with EXACT dedup semantics: drop every non-representative
    * member of each connected near-dup component (pairwise
    * drop-doc_b, above, under-merges transitive chains A~B~C — B
    * drops but C survives if (A,C) never became a candidate pair).
    * Same quality/langid stages; the drop list comes from the
    * `dedup_clusters` fixpoint instead of raw pairs. */
  def curateCc(spark: SparkSession, dir: String): DataFrame = {
    val quality = TextOps.qualityCore(spark, dir)
    val dropped = Small.clusters(Tables.t(spark, dir, "documents"))
      .filter(col("label") =!= col("node"))
      .select(col("node").as("doc_id"))
    curatedReport(quality, dropped)
  }

  val curateCcSql: String =
    curatedReportSql(Small.clusterCtes,
      "dropped AS (SELECT node AS doc_id FROM labels WHERE label <> node)")

  /** Curation with QUALITY-BEST representatives: [[curateCc]] keeps
    * each component's minimum-id member — an arbitrary convention
    * that discards the best copy whenever duplicates differ. This
    * variant drops every member EXCEPT the component's
    * highest-quality one (quality_score desc, min-doc_id tie-break —
    * the `dedup_keep_best` selection composed into the curation
    * recipe). Same quality bar and langid tail; only the drop list
    * changes, so the two gates' outputs differ exactly where a
    * component's min-id member is not its best one. The winner
    * window is a top-1 on the HIGH-cardinality component key —
    * partial+final WindowGroupLimit, no low-cardinality funnel. */
  def curateBest(spark: SparkSession, dir: String): DataFrame = {
    val quality = TextOps.qualityCore(spark, dir)
    // null scores (empty text → NULLIF division) are coalesced to
    // -1e308 INSIDE the order key: Spark sorts DESC nulls-last but
    // DuckDB DESC nulls-first — a silent winner divergence on any
    // component containing an empty doc. -1e308 is below every
    // reachable score (ratios of finite counts), so null never wins.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
      .orderBy(coalesce(col("quality_score"), lit(-1e308)).desc, col("doc_id"))
    val dropped = Small.clusters(Tables.t(spark, dir, "documents"))
      .join(quality.select(col("doc_id"), col("quality_score")),
        col("node") === col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") =!= 1)
      .select(col("node").as("doc_id"))
    curatedReport(quality, dropped)
  }

  val curateBestSql: String =
    curatedReportSql(Small.clusterCtes,
      """member AS (
        |  SELECT l.label, l.node, q.quality_score,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY l.label
        |      ORDER BY COALESCE(q.quality_score, -1e308) DESC, l.node) AS rn
        |  FROM labels l JOIN quality q ON l.node = q.doc_id),
        |dropped AS (SELECT node AS doc_id FROM member WHERE rn <> 1)""".stripMargin)

  /** Train/test CONTAMINATION check — the audit every training
    * pipeline needs after splitting: near-duplicate pairs whose
    * members landed in DIFFERENT splits of the deterministic hash
    * split (a test doc with a train-side near-dup inflates eval).
    * Composes the MinHash candidate pairs with the hash-split
    * assignment: two equi-joins of the (tiny relative to the corpus)
    * pair list against the per-doc split projection — size-adaptive
    * joins, the pair list never grows past the LSH candidate set. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 100
    val splits = Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        when(h < 80, lit("train")).when(h < 90, lit("val"))
          .otherwise(lit("test")).as("split"))
    Small.pairs(Tables.t(spark, dir, "documents"))
      .filter(col("est_jaccard") >= Small.threshold)
      .join(splits.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("split", "split_a"), col("doc_a") === col("a_id"))
      .join(splits.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("split", "split_b"), col("doc_b") === col("b_id"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        col("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val contaminationSql: String =
    s"""WITH ${Small.pairsCtes},
       |splits AS (
       |  SELECT doc_id,
       |    CASE WHEN ('0x' || SUBSTR(md5(text), 1, 4))::INT % 100 < 80 THEN 'train'
       |         WHEN ('0x' || SUBSTR(md5(text), 1, 4))::INT % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents)
       |SELECT doc_a, doc_b, sa.split AS split_a, sb.split AS split_b, est_jaccard
       |FROM est_pairs
       |JOIN splits sa ON doc_a = sa.doc_id
       |JOIN splits sb ON doc_b = sb.doc_id
       |WHERE est_jaccard >= ${Small.threshold} AND sa.split <> sb.split
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------- hybrid two-signal dedup
  private val HybridJaccard = 0.3
  private val HybridCosine = 0.0

  /** Hybrid near-dedup: cheap lexical CANDIDATES (MinHash bands,
    * est-Jaccard ≥ 0.3) CONFIRMED by the embedding signal (cosine ≥ 0
    * between the pair's vectors) — the standard two-stage shape where
    * a hash generates candidates and a dense model adjudicates them.
    * On this synthetic corpus the embeddings are independent of the
    * text, so the confirmation exercises the mechanism (as langid's
    * gate does), not semantic ground truth.
    *
    * Scale design: the expensive signal (the 64-dim kernel cosine)
    * runs ONLY on the candidate pairs — |candidates| rows, never
    * corpus² — and the embedding join shuffles 256-byte vectors keyed
    * by doc id exactly twice. This is the composition that makes
    * embedding-grade dedup affordable at 100 TB: LSH bounds the pair
    * count, the kernel prices each pair at a constant. */
  def dedupHybrid(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dotF
    val emb = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    Small.pairs(Tables.t(spark, dir, "documents"))
      .filter(col("est_jaccard") >= HybridJaccard)
      .join(emb.select(col("vec_id").as("doc_a"), col("embedding").as("ea")), "doc_a")
      .join(emb.select(col("vec_id").as("doc_b"), col("embedding").as("eb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        // zero-norm guard as in Similarity.cosineOf (PARITY.md)
        (dotF(col("ea"), col("eb")) /
          nullif(sqrt(dotF(col("ea"), col("ea"))) * sqrt(dotF(col("eb"), col("eb"))),
            lit(0.0)))
          .as("cosine"))
      .filter(col("cosine") >= HybridCosine)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupHybridSql: String =
    s"""WITH ${Small.pairsCtes},
       |cand AS (
       |  SELECT doc_a, doc_b, est_jaccard FROM est_pairs
       |  WHERE est_jaccard >= $HybridJaccard),
       |scored AS (
       |  SELECT doc_a, doc_b, est_jaccard,
       |    ${Similarity.cosineSql("ea.embedding", "eb.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings ea ON doc_a = ea.vec_id
       |  JOIN embeddings eb ON doc_b = eb.vec_id)
       |SELECT doc_a, doc_b, est_jaccard, cosine FROM scored
       |WHERE cosine >= $HybridCosine
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------- v2: the full pretraining recipe
  private val SpanBar = 20

  /** The composed MODERN curation recipe over the round-5 operators —
    * what a pretraining-data job actually runs per ingest: restrict to
    * the train split (deterministic md5 gate), enforce the quality
    * bar, drop every benchmark-contaminated doc
    * (`text_bloom_decontam`: map-side Bloom prefilter + exact confirm
    * — the broadcast-bitset shape, so this stage adds NO train-side
    * shuffle), drop heavy verbatim-copy docs (a duplicated-substring
    * run of ≥ $SpanBar positions from `text_substring_dedup`), and
    * report the surviving corpus per source. Both drop lists are tiny
    * relative to the corpus ⇒ broadcast anti-joins; every stage
    * inherits its gate's pinned plan shape. The oracle recomposes the
    * same CTEs (Bloom-free — exactness is the operator's contract),
    * so the hash certifies the WHOLE recipe. */
  /** The v2 recipe's per-doc survivor set — shared by the per-source
    * report (curateV2) and the v3 train-build packing stage. */
  private def curatedV2Docs(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 100
    val base = graft.operators.Tables.t(spark, dir, "documents")
      .filter(h < 80)
      .select(col("doc_id"), col("source"))
    val contaminated = TextOps.textBloomDecontam(spark, dir)
      .select(col("doc_id"))
    val spanDrops = TextOps.textSubstringDedup(spark, dir)
      .filter(col("max_run") >= SpanBar)
      .select(col("doc_id"))
    base
      .join(TextOps.qualityCore(spark, dir), Seq("doc_id"))
      .filter(col("quality_score") >= QualityBar)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(spanDrops, Seq("doc_id"), "left_anti")
  }

  def curateV2(spark: SparkSession, dir: String): DataFrame =
    curatedV2Docs(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars_actual")).as("sum_chars"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality"))
      .orderBy(col("source"))

  val curateV2Sql: String = {
    val k5 = TextOps.DecontamN
    val k8 = TextOps.SubstrK
    s"""WITH split_docs AS (
       |  SELECT doc_id, source, text,
       |    CASE WHEN ('0x' || SUBSTR(md5(text), 1, 4))::INT % 100 < 80 THEN 'train'
       |         WHEN ('0x' || SUBSTR(md5(text), 1, 4))::INT % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |g5 AS (
       |  SELECT doc_id, split,
       |    md5(ARRAY_TO_STRING(ws[i : i + ${k5 - 1}], ' ')) AS gram
       |  FROM (SELECT doc_id, split, STRING_SPLIT(text, ' ') AS ws
       |        FROM split_docs
       |        WHERE LEN(STRING_SPLIT(text, ' ')) >= $k5) d,
       |       UNNEST(RANGE(1, LEN(d.ws) - ${k5 - 2})) AS r(i)),
       |contaminated AS (
       |  SELECT DISTINCT t.doc_id
       |  FROM g5 t JOIN (SELECT DISTINCT gram FROM g5 WHERE split = 'test') tg
       |    USING (gram)
       |  WHERE t.split = 'train'),
       |g8 AS (
       |  SELECT doc_id, i AS pos,
       |    md5(ARRAY_TO_STRING(ws[i : i + ${k8 - 1}], ' ')) AS gram
       |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
       |        WHERE LEN(STRING_SPLIT(text, ' ')) >= $k8) d,
       |       UNNEST(RANGE(1, LEN(d.ws) - ${k8 - 2})) AS r(i)),
       |dup8 AS (SELECT gram FROM g8 GROUP BY gram HAVING COUNT(*) >= 2),
       |runs AS (
       |  SELECT doc_id, grp, COUNT(*) AS n_pos
       |  FROM (SELECT g.doc_id, g.pos,
       |          g.pos - ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS grp
       |        FROM g8 g JOIN dup8 USING (gram))
       |  GROUP BY doc_id, grp),
       |span_drops AS (
       |  SELECT DISTINCT doc_id FROM runs WHERE n_pos >= $SpanBar),
       |quality AS (${TextOps.qualitySelectSql}),
       |curated AS (
       |  SELECT s.doc_id, s.source, q.n_chars_actual, q.quality_score
       |  FROM split_docs s JOIN quality q ON s.doc_id = q.doc_id
       |  WHERE s.split = 'train'
       |    AND q.quality_score >= $QualityBar
       |    AND s.doc_id NOT IN (SELECT doc_id FROM contaminated)
       |    AND s.doc_id NOT IN (SELECT doc_id FROM span_drops))
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars_actual) AS BIGINT) AS sum_chars,
       |  MIN(quality_score) AS min_quality, MAX(quality_score) AS max_quality
       |FROM curated
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // ------------------------------ v3: the packed train-build output
  /** The END of the pretraining-data pipeline — what actually ships
    * to the trainer: take the v2 curation survivors, keep the
    * DSIR-important docs (importance weight ≥ the bar, the
    * capped-and-smoothed models of `text_dsir_filter`), order each
    * source's docs by importance, and PACK them into token-budget
    * shards. The packing cumsum runs over the CURATED corpus (orders
    * of magnitude smaller than raw ingest), ordered by (weight DESC,
    * doc_id) — a total order, so shard assignment is layout-
    * independent — via the distributed monotone-bucket prefix (r11),
    * so even a single dominant source never funnels through one
    * task. Every stage reuses a gate-pinned operator:
    * the output hash certifies split gate + quality bar + decontam +
    * span drops + importance selection + packing END TO END. */
  def trainBuild(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.operators.Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("tokens"))
    // r11: the pack cumsum rides the distributed prefix (VERDICT r10
    // next #1). The sort here is (dsir_weight DESC, doc_id), so the
    // monotone bucket is a pure function of the WEIGHT: bucket =
    // floor(−log₂(w)·16) is non-decreasing along a weight-descending
    // order (log is monotone; 16 sub-octave steps keep buckets fine
    // enough to spread a source). Weights are > 0 by construction
    // (likelihood ratios ≥ DsirKeep), so the log is total. The
    // survivors frame is checkpointed because the helper executes the
    // plan twice and the upstream is the full curation pipeline.
    val survivors = curatedV2Docs(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(TextOps.textDsirFilter(spark, dir)
        .select(col("doc_id"), col("dsir_weight")), Seq("doc_id"))
      .join(toks, Seq("doc_id"))
      .localCheckpoint()
    Ranks.partitionedRunningSum(survivors, Seq("source"),
      floor(-log(2.0, col("dsir_weight")) * 16),
      col("tokens"), "cum", col("dsir_weight").desc, col("doc_id"))
      .withColumn("shard_id",
        expr(s"(cum - tokens) div ${TextOps.ShardTokens}"))
      .groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("sum_tokens"),
        max(col("dsir_weight")).as("max_weight"),
        min(col("dsir_weight")).as("min_weight"))
      .orderBy(col("source"), col("shard_id"))
  }

  val trainBuildSql: String = {
    val k5 = TextOps.DecontamN
    val k8 = TextOps.SubstrK
    val vocab = TextOps.DsirVocabTop
    s"""WITH ${TextOps.bigramCtes},
       |quality AS (${TextOps.qualitySelectSql}),
       |split_docs AS (
       |  SELECT doc_id, source, text,
       |    CASE WHEN ('0x' || SUBSTR(md5(text), 1, 4))::INT % 100 < 80 THEN 'train'
       |         WHEN ('0x' || SUBSTR(md5(text), 1, 4))::INT % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |g5 AS (
       |  SELECT doc_id, split,
       |    md5(ARRAY_TO_STRING(ws[i : i + ${k5 - 1}], ' ')) AS gram
       |  FROM (SELECT doc_id, split, STRING_SPLIT(text, ' ') AS ws
       |        FROM split_docs
       |        WHERE LEN(STRING_SPLIT(text, ' ')) >= $k5) d,
       |       UNNEST(RANGE(1, LEN(d.ws) - ${k5 - 2})) AS r(i)),
       |contaminated AS (
       |  SELECT DISTINCT t.doc_id
       |  FROM g5 t JOIN (SELECT DISTINCT gram FROM g5 WHERE split = 'test') tg
       |    USING (gram)
       |  WHERE t.split = 'train'),
       |g8 AS (
       |  SELECT doc_id, i AS pos,
       |    md5(ARRAY_TO_STRING(ws[i : i + ${k8 - 1}], ' ')) AS gram
       |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
       |        WHERE LEN(STRING_SPLIT(text, ' ')) >= $k8) d,
       |       UNNEST(RANGE(1, LEN(d.ws) - ${k8 - 2})) AS r(i)),
       |dup8 AS (SELECT gram FROM g8 GROUP BY gram HAVING COUNT(*) >= 2),
       |runs AS (
       |  SELECT doc_id, grp, COUNT(*) AS n_pos
       |  FROM (SELECT g.doc_id, g.pos,
       |          g.pos - ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS grp
       |        FROM g8 g JOIN dup8 USING (gram))
       |  GROUP BY doc_id, grp),
       |span_drops AS (
       |  SELECT DISTINCT doc_id FROM runs WHERE n_pos >= $SpanBar),
       |curated AS (
       |  SELECT s.doc_id, s.source
       |  FROM split_docs s JOIN quality q ON s.doc_id = q.doc_id
       |  WHERE s.split = 'train'
       |    AND q.quality_score >= $QualityBar
       |    AND s.doc_id NOT IN (SELECT doc_id FROM contaminated)
       |    AND s.doc_id NOT IN (SELECT doc_id FROM span_drops)),
       |target AS (SELECT doc_id FROM quality WHERE quality_score >= ${TextOps.DsirQualityBar}),
       |tcnt AS (
       |  SELECT bigram, tc FROM (
       |    SELECT bigram, COUNT(*) AS tc,
       |      ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bigram) AS rn
       |    FROM bg WHERE doc_id IN (SELECT doc_id FROM target) GROUP BY bigram) r
       |  WHERE rn <= $vocab),
       |ccnt AS (
       |  SELECT bigram, cc FROM (
       |    SELECT bigram, COUNT(*) AS cc,
       |      ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bigram) AS rn
       |    FROM bg GROUP BY bigram) r
       |  WHERE rn <= $vocab),
       |tot AS (SELECT
       |  (SELECT CAST(COALESCE(SUM(tc), 0) + $vocab AS BIGINT) FROM tcnt) AS tt,
       |  (SELECT CAST(COALESCE(SUM(cc), 0) + $vocab AS BIGINT) FROM ccnt) AS ct),
       |dsirw AS (
       |  SELECT doc_id, dsir_weight FROM (
       |    SELECT b.doc_id,
       |      (CAST(SUM(COALESCE(t.tc, 0) + 1) AS DOUBLE) / CAST((SELECT tt FROM tot) AS DOUBLE))
       |        / (CAST(SUM(COALESCE(c.cc, 0) + 1) AS DOUBLE) / CAST((SELECT ct FROM tot) AS DOUBLE)) AS dsir_weight
       |    FROM bg b LEFT JOIN ccnt c ON b.bigram = c.bigram
       |    LEFT JOIN tcnt t ON b.bigram = t.bigram
       |    GROUP BY b.doc_id) s
       |  WHERE dsir_weight >= ${TextOps.DsirKeep}),
       |toks AS (
       |  SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS tokens
       |  FROM documents),
       |packed AS (
       |  SELECT c.source, d.dsir_weight, k.tokens,
       |    CAST(SUM(k.tokens) OVER (PARTITION BY c.source
       |      ORDER BY d.dsir_weight DESC, c.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM curated c JOIN dsirw d USING (doc_id) JOIN toks k USING (doc_id))
       |SELECT source, (cum - tokens) // ${TextOps.ShardTokens} AS shard_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(tokens) AS BIGINT) AS sum_tokens,
       |  MAX(dsir_weight) AS max_weight, MIN(dsir_weight) AS min_weight
       |FROM packed
       |GROUP BY source, shard_id
       |ORDER BY source, shard_id""".stripMargin
  }

  // --------------------------- the daily-delta run (r10, VERDICT #8)
  /** What a 100 TB corpus actually executes EVERY DAY: the ingest
    * delta (the incremental gates' doc_id % 5 convention) probes the
    * persistent 128-perm band index and keeps only docs with NO
    * corpus near-dup at the shipping threshold
    * (`dedup_incremental_minhash_prod`'s keep-set), the survivors are
    * screened against the benchmark Bloom filter
    * (`text_bloom_decontam` — map-side prefilter, exact confirm), and
    * what remains is packed into token-budget shards per source for
    * the trainer. Each stage is a gate-pinned operator; the output
    * hash certifies the COMPOSITION — delta isolation, keep-set
    * semantics, decontam exactness, and deterministic packing —
    * end to end at production constants.
    *
    * Scale: the delta is the only full-text scan; dedup shuffles
    * ~1 KB/doc signatures against the (bucketed) index, decontam adds
    * no train-side shuffle (broadcast bitset + broadcast confirm),
    * and the packing cumsum (distributed monotone-bucket prefix,
    * r11) runs over the day's SURVIVORS only,
    * per-source. All output measures are exact integers. */
  def dailyDelta(spark: SparkSession, dir: String): DataFrame =
    dailyDeltaFrom(spark, dir,
      Tables.t(spark, dir, "documents").filter(col("doc_id") % 5 === 0),
      // r13: the batch gate probes the PERSISTED index too — "probes
      // the persistent band index" (scaladoc above) is now literal on
      // both the batch and streaming twins; the build is paid once
      // per JVM by whichever prober runs first
      Some(Dedup.persistedCorpusIndex(spark, dir)))

  /** The daily composition with the DELTA supplied as a frame — the
    * r12 streaming mirror [[Streaming.streamDailyDelta]] runs this
    * EXACT pipeline per micro-batch (foreachBatch), so the batch gate
    * and the stream gate certify the same code path; the batch gate
    * passes the fixture's doc_id%5 slice. */
  private[graft] def dailyDeltaFrom(spark: SparkSession, dir: String,
      deltaDocs: DataFrame,
      corpusBands: Option[DataFrame] = None): DataFrame = {
    // r13: callers that run the composition repeatedly (the streaming
    // mirror — one call per micro-batch) pass the PERSISTED corpus
    // band index so per-batch work is O(delta); the batch gate derives
    // it in-plan (one call, one scan — filter-before-shingle).
    val keep = Prod.probe(Prod.bandsOf(deltaDocs),
        corpusBands.getOrElse(Dedup.corpusBandIndex(spark, dir)))
      .filter(col("status") === "new")
      .select(col("doc_id"))
    val contaminated = TextOps.textBloomDecontam(spark, dir)
      .select(col("doc_id"))
    val meta = deltaDocs
      .select(col("doc_id"), col("source"),
        // coalesce makes the token expression TOTAL (null text → 1
        // empty token, as textSeqPack): the keep-set currently admits
        // only sigs docs (≥3 words, non-null text), but if that source
        // ever widens, size(split(NULL)) = -1 here vs NULL in the
        // oracle would be a silent parity divergence (ADVICE r10)
        size(split(coalesce(col("text"), lit("")), " "))
          .cast("bigint").as("tokens"))
    // r11: the pack stage's running sum rides the distributed
    // monotone-bucket prefix (VERDICT r10 next #1) — the survivors
    // frame is checkpointed first because partitionedRunningSum
    // executes its plan twice (subtotals job + cumsum pass) and the
    // upstream here is three joins deep; bit-identical to the old
    // per-source window, so gate hash and oracle are unchanged.
    val survivors = keep
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(meta, Seq("doc_id"))
      .localCheckpoint()
    Ranks.partitionedRunningSum(survivors, Seq("source"),
      expr(s"doc_id div ${Ranks.packBucketWidth(survivors, col("doc_id"))}"),
      col("tokens"), "cum", col("doc_id"))
      .withColumn("shard_id", expr(s"(cum - tokens) div ${TextOps.ShardTokens}"))
      .groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("sum_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("source"), col("shard_id"))
  }

  /** Oracle recomposition: the delta-probe CTE bundle supplies
    * the keep-set; decontam is restated in its exact (Bloom-free)
    * form with dd-prefixed CTE names (the shingle bundle already owns
    * the generic ones); packing mirrors the per-source window. */
  val dailyDeltaSql: String = {
    val k5 = TextOps.DecontamN
    s"""WITH ${Dedup.deltaProbeCtes(Prod)},
       |keepset AS (SELECT doc_id FROM status WHERE status = 'new'),
       |dd AS (
       |  SELECT doc_id,
       |    CASE WHEN ('0x' || SUBSTR(md5(text), 1, 4))::INT % 100 < 80 THEN 'train'
       |         WHEN ('0x' || SUBSTR(md5(text), 1, 4))::INT % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split,
       |    STRING_SPLIT(text, ' ') AS ws
       |  FROM documents
       |  WHERE LEN(STRING_SPLIT(text, ' ')) >= $k5),
       |dd_grams AS (
       |  SELECT doc_id, split,
       |    md5(ARRAY_TO_STRING(ws[i : i + ${k5 - 1}], ' ')) AS gram
       |  FROM dd, UNNEST(RANGE(1, LEN(ws) - ${k5 - 2})) AS r(i)),
       |dd_test AS (SELECT DISTINCT gram FROM dd_grams WHERE split = 'test'),
       |dd_contaminated AS (
       |  SELECT DISTINCT t.doc_id
       |  FROM dd_grams t JOIN dd_test g ON t.gram = g.gram
       |  WHERE t.split = 'train'),
       |survivors AS (
       |  SELECT k.doc_id, d.source,
       |    CAST(LEN(STRING_SPLIT(COALESCE(d.text, ''), ' ')) AS BIGINT) AS tokens
       |  FROM keepset k JOIN documents d ON k.doc_id = d.doc_id
       |  WHERE k.doc_id NOT IN (SELECT doc_id FROM dd_contaminated)),
       |packed AS (
       |  SELECT doc_id, source, tokens,
       |    CAST(SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM survivors)
       |SELECT source, (cum - tokens) // ${TextOps.ShardTokens} AS shard_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(tokens) AS BIGINT) AS sum_tokens,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM packed
       |GROUP BY source, shard_id
       |ORDER BY source, shard_id""".stripMargin
  }

  val all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "pipeline_daily_delta" -> ((dailyDelta _, dailyDeltaSql)),
    "pipeline_curate" -> ((curate _, curateSql)),
    "pipeline_train_build" -> ((trainBuild _, trainBuildSql)),
    "pipeline_curate_v2" -> ((curateV2 _, curateV2Sql)),
    "pipeline_curate_cc" -> ((curateCc _, curateCcSql)),
    "pipeline_curate_best" -> ((curateBest _, curateBestSql)),
    "pipeline_contamination" -> ((contamination _, contaminationSql)),
    "dedup_hybrid" -> ((dedupHybrid _, dedupHybridSql)))
}
