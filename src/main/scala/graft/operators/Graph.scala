package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Graph analytics over the duplicate-candidate graph — the third
 * graph operator beside `pipeline_curate_cc`'s connected components
 * (cluster membership) and the band-join pair generation itself:
 * triangle counting, the classic cohesion metric (a doc in many
 * triangles sits in a DENSE duplicate clique, not a chain of
 * borderline pairs — the signal curation uses to distinguish
 * boilerplate families from incidental near-dups).
 *
 * Everything is exact BIGINT arithmetic (node ids, edge endpoints,
 * triangle counts) — no floating point anywhere, so cross-engine
 * parity is structural, not numeric.
 */
object Graph {
  import Tables.{ckpt, t}

  private val PrefixLen = 20
  private val BucketCap = 100L

  /** Candidate edges: docs sharing a 20-char text-prefix digest form
    * bucket cliques (the same candidate-generation shape as the dedup
    * family), with a df-style bucket-size cap so a degenerate hot
    * bucket can never explode the clique quadratically (the
    * `dedup_ngram_jaccard_capped` discipline applied to graph
    * building). Edges are canonical (a < b). */
  private def edges(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .select(md5(substring(col("text"), 1, PrefixLen)).as("h"),
        col("doc_id"))
    val sizes = d.groupBy(col("h")).agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= BucketCap)
    val bounded = d.join(sizes, Seq("h"))
    bounded.as("x").join(bounded.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
  }

  /** Directed edge list under the degree order: each undirected edge
    * points from its lower-(degree, id) endpoint to the higher one,
    * carrying the destination's degree so downstream joins can compare
    * positions in the same total order without re-joining degrees.
    * This is the classic orientation trick (Cohen's MapReduce triangle
    * enumeration): wedges form only at a vertex's OUT-neighbors, and
    * out-degree under the degree order is O(√m) amortized — a
    * hot vertex (degree D) is everyone's destination, so it centers
    * zero wedges instead of C(D, 2). Ids are distinct, so
    * (deg, id) is a strict total order and every edge orients
    * deterministically. */
  private[graft] def orientByDegree(e: DataFrame): DataFrame = {
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // degree relation is linear in |V| — never broadcastable at scale;
    // merge-pinned like every linear-relation join in the dedup family
    val withDeg = e
      .join(deg.hint("merge").select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.hint("merge").select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
  }

  /** Wedges centered on each vertex's out-neighborhood: pairs of
    * out-edges (x→y, x→z) with y before z in the degree order — each
    * triangle {x,y,z} (x ≺ y ≺ z) yields exactly one wedge, at its
    * minimum vertex. Exposed for the skew spec, which counts these
    * rows to prove the hot-vertex bound empirically. */
  private[graft] def orientedWedges(d: DataFrame): DataFrame =
    d.as("e1").join(d.as("e2").hint("merge"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddeg") < col("e2.ddeg") ||
            (col("e1.ddeg") === col("e2.ddeg") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))

  /** Triangle participation counts from a canonical (a < b) edge list:
    * orient by degree, form wedges at each minimum vertex, close each
    * wedge with the directed edge y→z (y ≺ z in the degree order means
    * the {y,z} edge, if present, is oriented exactly y→z — one lookup,
    * no disjunction), then explode the three corners. Every join is an
    * equi-join on ids; the shuffles carry (src, dst, ddeg) triples
    * only. Unlike the id-ordered three-way self-join, no vertex ever
    * fans out on its full degree — the 100 TB skew-killer the previous
    * form acknowledged but didn't implement. */
  private[graft] def trianglesFromEdges(e: DataFrame): DataFrame = {
    // The wedge join and the closing join reference the oriented list
    // THREE times; without materialization each reference re-derives
    // the full candidate-generation + degree lineage (measured: 40
    // parquet rescans, 4× wall time at sf0.001) — the same
    // lineage-blowup the star-contraction CC checkpoints away
    // (Tables.ckpt); at 100 TB the oriented edge list is the artifact
    // you'd persist to a table anyway.
    val d = ckpt(orientByDegree(e))
    val tri = orientedWedges(d)
      .join(d.as("e3").hint("merge"),
        col("y") === col("e3.src") && col("z") === col("e3.dst"))
      .select(col("x"), col("y"), col("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("doc_id"))
  }

  /** Per-node triangle participation over the candidate graph. The
    * oracle SQL keeps the simpler id-ordered enumeration — any correct
    * once-per-triangle enumeration yields identical counts, so parity
    * checks the RESULT while the Spark plan carries the scale shape. */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    trianglesFromEdges(edges(spark, dir))

  val trianglesSql: String =
    s"""WITH d AS (
       |  SELECT md5(SUBSTR(text, 1, $PrefixLen)) AS h, doc_id FROM documents),
       |sizes AS (
       |  SELECT h, COUNT(*) AS bucket_n FROM d GROUP BY h
       |  HAVING COUNT(*) <= $BucketCap),
       |b AS (SELECT d.h, d.doc_id FROM d JOIN sizes USING (h)),
       |e AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM b x JOIN b y ON x.h = y.h AND x.doc_id < y.doc_id),
       |tri AS (
       |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
       |  FROM e e1
       |  JOIN e e2 ON e1.b = e2.a
       |  JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b),
       |corners AS (
       |  SELECT a AS doc_id FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri)
       |SELECT doc_id, COUNT(*) AS n_triangles
       |FROM corners GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  private val ReachMaxHops = 4

  /** Bounded transitive closure via a RECURSIVE CTE (Spark 4's
    * `WITH RECURSIVE` — the declarative twin of
    * `pipeline_curate_cc`'s iterative HashMin loop): per node, the
    * count of distinct peers reachable within ≤ $ReachMaxHops hops on
    * the bidirectional candidate graph. The recursion joins the
    * frontier to the (bucket-capped) edge list each step, so fan-out
    * is bounded by cliqueᴰᵉᵖᵗʰ with cliques ≤ the bucket cap — at
    * these corpora max clique 4 ⇒ ≤ 81 paths/source before the
    * DISTINCT. SQL-first on purpose: the gate drives the spark.sql
    * entry point end-to-end (temp view + recursive query), proving
    * the engine's SQL surface carries the newest language feature.
    *
    * At 100 TB prefer the iterative HashMin form for UNBOUNDED
    * closure (it converges in O(log diameter) passes with one compact
    * state row per node); recursive CTEs shine exactly here — small
    * bounded-depth neighborhood queries. */
  def reachability(spark: SparkSession, dir: String): DataFrame = {
    val view = s"graft_edges_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    edges(spark, dir).createOrReplaceTempView(view)
    // spark.sql analyzes EAGERLY — the view is inlined into the
    // returned plan, so it can be dropped before the query runs.
    // Without the drop, every invocation (DeterminismSpec alone runs
    // this at several partition settings) leaks a catalog entry.
    // Fan-out bound: the recursion only excludes the SOURCE node, so a
    // bucket of size c can expand to ~c^(hops) intermediate rows before
    // the DISTINCT — safe solely because `edges` is bucket-capped at
    // BucketCap ($BucketCap ⇒ cliques ≤ cap ⇒ ≤ cap^4 paths/source).
    // An uncapped edge list must NOT be fed through this query; use
    // the star-contraction CC (Dedup.clustersFromPairs) instead.
    try {
      spark.sql(
        s"""WITH RECURSIVE reach(src, node, d) AS (
           |  SELECT a, b, 1 FROM (SELECT a, b FROM $view
           |                       UNION ALL SELECT b, a FROM $view)
           |  UNION ALL
           |  SELECT r.src, e.dst, r.d + 1
           |  FROM reach r
           |  JOIN (SELECT a AS s, b AS dst FROM $view
           |        UNION ALL SELECT b, a FROM $view) e
           |    ON r.node = e.s
           |  WHERE r.d < $ReachMaxHops AND e.dst <> r.src)
           |SELECT src AS doc_id, COUNT(DISTINCT node) AS n_reachable
           |FROM reach WHERE node <> src
           |GROUP BY src ORDER BY doc_id""".stripMargin)
    } finally spark.catalog.dropTempView(view)
  }

  val reachabilitySql: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT md5(SUBSTR(text, 1, $PrefixLen)) AS h, doc_id FROM documents),
       |sizes AS (
       |  SELECT h, COUNT(*) AS bucket_n FROM d GROUP BY h
       |  HAVING COUNT(*) <= $BucketCap),
       |b AS (SELECT d.h, d.doc_id FROM d JOIN sizes USING (h)),
       |e AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM b x JOIN b y ON x.h = y.h AND x.doc_id < y.doc_id),
       |eb AS (SELECT a AS s, b AS dst FROM e UNION ALL SELECT b, a FROM e),
       |reach(src, node, d2) AS (
       |  SELECT s, dst, 1 FROM eb
       |  UNION ALL
       |  SELECT r.src, e2.dst, r.d2 + 1
       |  FROM reach r JOIN eb e2 ON r.node = e2.s
       |  WHERE r.d2 < $ReachMaxHops AND e2.dst <> r.src)
       |SELECT src AS doc_id, COUNT(DISTINCT node) AS n_reachable
       |FROM reach WHERE node <> src
       |GROUP BY src ORDER BY doc_id""".stripMargin

  private val PrScale = 1000000L
  private val PrBase = 150000L // floor(0.15 * scale)
  private val PrIters = 3

  /** PageRank over the (bidirectional) candidate graph in EXACT
    * fixed-point integer arithmetic: ranks are scaled by 10⁶ and each
    * contribution is `floor(85·rank / (100·deg))` — integer ops only,
    * so the per-node sums are order-independent BIGINTs and two
    * engines agree structurally (float PageRank sums would be
    * shuffle-order-dependent). $PrIters unrolled iterations; the
    * damping remainder (0.15) enters as the integer base.
    *
    * Scale shape: the degree-annotated edge list is materialized once
    * (the triangles discipline) and each iteration is one equi-join +
    * one partial-aggregable integer sum on the dst key — the textbook
    * distributed PageRank step. Rank relations are |V|-linear and
    * merge-pinned (never broadcast). Unrolled because the iteration
    * count is a constant of the gate; an open-ended convergence loop
    * would checkpoint per round like Dedup.clustersFromPairs. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir)
    val eb = e.select(col("a").as("s"), col("b").as("dst"))
      .union(e.select(col("b").as("s"), col("a").as("dst")))
    val deg = eb.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val g = ckpt(eb.join(deg.hint("merge"), Seq("s")))
    val nodes = ckpt(g.select(col("s").as("node")).distinct())
    var rank = nodes.withColumn("rank", lit(PrScale))
    (1 to PrIters).foreach { _ =>
      val contribs = g.join(rank.hint("merge"), col("s") === col("node"))
        .select(col("dst"),
          expr(s"(85 * rank) DIV (100 * deg)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("c"))
      rank = nodes.join(contribs.hint("merge"), col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(PrBase) + coalesce(col("c"), lit(0L))).as("rank"))
    }
    rank.select(col("node").as("doc_id"), col("rank").as("pr_rank"))
      .orderBy(col("doc_id"))
  }

  val pagerankSql: String = {
    val iters = (1 to PrIters).map { k =>
      s"""c$k AS (
         |  SELECT eb.dst AS node, SUM((85 * r${k - 1}.rank) // (100 * dg.deg)) AS c
         |  FROM eb JOIN r${k - 1} ON eb.s = r${k - 1}.node
         |  JOIN dg ON eb.s = dg.s
         |  GROUP BY eb.dst),
         |r$k AS (
         |  SELECT n.node, $PrBase + COALESCE(c$k.c, 0) AS rank
         |  FROM nodes n LEFT JOIN c$k ON n.node = c$k.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (
       |  SELECT md5(SUBSTR(text, 1, $PrefixLen)) AS h, doc_id FROM documents),
       |sizes AS (
       |  SELECT h, COUNT(*) AS bucket_n FROM d GROUP BY h
       |  HAVING COUNT(*) <= $BucketCap),
       |b AS (SELECT d.h, d.doc_id FROM d JOIN sizes USING (h)),
       |e AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM b x JOIN b y ON x.h = y.h AND x.doc_id < y.doc_id),
       |eb AS (SELECT a AS s, b AS dst FROM e UNION ALL SELECT b, a FROM e),
       |dg AS (SELECT s, COUNT(*) AS deg FROM eb GROUP BY s),
       |nodes AS (SELECT DISTINCT s AS node FROM eb),
       |r0 AS (SELECT node, $PrScale AS rank FROM nodes),
       |$iters
       |SELECT node AS doc_id, CAST(rank AS BIGINT) AS pr_rank
       |FROM r$PrIters ORDER BY doc_id""".stripMargin
  }

  val all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "graph_triangles" -> ((triangles _, trianglesSql)),
    "graph_reachability" -> ((reachability _, reachabilitySql)),
    "graph_pagerank" -> ((pagerank _, pagerankSql)))
}
