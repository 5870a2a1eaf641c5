package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One MinHash/LSH operating point: `perms` Kirsch–Mitzenmacher
  * permutations cut into `bands` bands, with `threshold` the near-dup
  * bar on estimated Jaccard. Every MinHash gate builds its Spark plan
  * AND its DuckDB oracle text through one of the two points in the
  * companion, so the 16- and 128-permutation pipelines differ only in
  * these three numbers and what derives from them.
  *
  * Signatures: ONE md5 per shingle, split into two disjoint halves —
  * h1 (14 hex chars, 56 bits) and h2 ([[h2Hex]] hex chars) — with the
  * k-th permutation g_k = h1 + k·h2. Both engines compute bit-identical
  * values (Spark `conv(hex,16,10)`, DuckDB `('0x'||hex)::BIGINT`, then
  * exact BIGINT arithmetic); h2's width is the widest that keeps
  * h1 + perms·h2 below 2⁶³, so neither side can overflow. The
  * aggregation is `perms` partial-aggregable LONG min()s and the
  * shuffle carries one `perms`-long row per document, never the text.
  *
  * Bands: band b hashes signature rows b·r+1 .. b·r+r (r = [[rows]])
  * to one md5 bucket key; the signature rides along PACKED as one
  * array<bigint> column, so no pair join ever joins back to the
  * signature table and the per-pair match count is the codegen'd
  * `matchCountF` loop over two arrays. */
final class MinHashLsh private[graft] (
    val perms: Int, val bands: Int, val threshold: Double) {
  require(perms > 0 && bands > 0 && perms % bands == 0,
    s"bands ($bands) must divide perms ($perms)")

  /** Signature rows per band. */
  val rows: Int = perms / bands

  /** Hex width of h2: the widest w ≤ 14 with
    * (2⁵⁶ − 1) + perms·(16^w − 1) < 2⁶³ — 14 for 16 perms, 13 for 128
    * (at 128 perms a 14-char h2 overflows: 129·2⁵⁶ > 2⁶³). */
  val h2Hex: Int = (14 to 1 by -1).find { w =>
    (BigInt(2).pow(56) - 1) + BigInt(perms) * (BigInt(16).pow(w) - 1) <
      BigInt(2).pow(63)
  }.get

  /** The near-dup bar as an integer count of matching components:
    * eq ≥ ceil(threshold·perms) ≡ eq/perms ≥ threshold, no division. */
  val nearDupCount: Int = math.ceil(threshold * perms).toInt

  // ------------------------------------------------------------ Spark
  /** Signature columns s1..s<perms> per doc_id of a (doc_id, shingle)
    * frame. h1/h2 are projected ONCE per shingle row BEFORE the
    * aggregation (opt r14): inlined into every min(), each update
    * expression carried its own md5+conv subtree — 2·perms md5s per
    * row whenever the update projection runs without codegen CSE, as
    * it always does at 128 perms (the min()s exceed
    * `spark.sql.codegen.maxFields`). The oracle's `hashed` CTE has the
    * same shape. */
  def sigs(shingles: DataFrame): DataFrame = {
    val h1 = conv(substring(md5(col("shingle")), 1, 14), 16, 10).cast("bigint")
    val h2 = conv(substring(md5(col("shingle")), 17, h2Hex), 16, 10).cast("bigint")
    val sigCols = (1 to perms).map { k =>
      min(col("h1") + lit(k.toLong) * col("h2")).as(s"s$k")
    }
    shingles.select(col("doc_id"), h1.as("h1"), h2.as("h2"))
      .groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** (doc_id, band_id, bh, sigs): one row per band of each signature,
    * the signature packed alongside. */
  def banded(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        md5(concat_ws("|",
          (1 to rows).map(r => col(s"s${rows * b + r}").cast("string")): _*))
          .as("bh"))
    }
    val sigArr = array((1 to perms).map(k => col(s"s$k")): _*).as("sigs")
    sigs.select(col("doc_id"), sigArr, explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id").as("band_id"),
        col("band.bh").as("bh"), col("sigs"))
  }

  /** Banded signatures of a (doc_id, text, …) frame. */
  def bandsOf(docs: DataFrame): DataFrame =
    banded(sigs(Dedup.shingleDfFrom(docs)))

  /** Unordered candidate pairs (doc_a < doc_b) + est_jaccard =
    * matching components / perms.
    *
    * The band self-join is pinned to sort-merge (`hint("merge")`): both
    * sides are the SAME subplan shuffled on the same keys, so the
    * planner emits one exchange + a ReusedExchange. Left to cost
    * estimation (as in round 1's composed pipeline), Spark broadcast
    * one side — bands-with-signatures grows linearly with the corpus,
    * so that broadcast is a 100 TB scale-killer AND recomputed the
    * whole shingle→signature pipeline twice (112 s vs 5 s at sf0.1). */
  def pairs(docs: DataFrame): DataFrame = {
    val b = bandsOf(docs)
    b.as("a")
      .join(b.as("b").hint("merge"),
        col("a.band_id") === col("b.band_id") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        estJaccard.as("est_jaccard"))
      .distinct()
  }

  /** Unordered (node, label) connected components of the pair graph
    * at the near-dup bar ([[Dedup.clustersFromPairs]]). */
  def clusters(docs: DataFrame): DataFrame =
    Dedup.clustersFromPairs(pairs(docs)
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b")))

  /** Best index match per delta doc: (doc_id, status, match_doc_id,
    * best_est_jaccard) — `dup_corpus` with the highest-est_jaccard
    * index doc at the near-dup bar (ties to the lowest doc_id), else
    * `new`. Both sides are banded frames; the index may be fresh or a
    * persisted bucketed table. The delta⋈index band join is pinned
    * sort-merge (broadcasting a linear-size side is the scale-killer);
    * the best-match window is per delta doc — delta-sized, never
    * corpus-sized. */
  def probe(delta: DataFrame, index: DataFrame): DataFrame = {
    val cand = delta.as("a")
      .join(index.as("b").hint("merge"),
        col("a.band_id") === col("b.band_id") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("c_doc"),
        estJaccard.as("ej"))
      .distinct()
      .filter(col("ej") >= threshold)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("ej").desc, col("c_doc"))
    val best = cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("c_doc"), col("ej"))
    delta.select(col("doc_id")).distinct()
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("c_doc").isNotNull, lit("dup_corpus")).otherwise(lit("new"))
          .as("status"),
        col("c_doc").as("match_doc_id"),
        col("ej").as("best_est_jaccard"))
  }

  private def estJaccard =
    graft.functions.VectorFunctions.matchCountF(col("a.sigs"), col("b.sigs"))
      .cast("double") / lit(perms.toDouble)

  /** Per-row signatures for a frame with a `shingles` array column:
    * adds `hs` (the h1/h2 pair per shingle) and `sigs` (array_min over
    * the shingles per permutation). Bit-identical to [[sigs]]'s
    * aggregate — min over the same distinct shingle set is min — but
    * stateless, which is what a stream with one allowed stateful op
    * needs. */
  def withRowSigs(df: DataFrame): DataFrame = {
    val h1 = "CAST(conv(substring(md5(s), 1, 14), 16, 10) AS BIGINT)"
    val h2 = s"CAST(conv(substring(md5(s), 17, $h2Hex), 16, 10) AS BIGINT)"
    df.withColumn("hs", expr(s"transform(shingles, s -> array($h1, $h2))"))
      .withColumn("sigs", expr(s"transform(sequence(1, $perms), k -> " +
        "array_min(transform(hs, h -> h[0] + CAST(k AS BIGINT) * h[1])))"))
  }

  /** [[banded]] for a frame carrying per-row `sigs` ([[withRowSigs]]). */
  def rowBanded(df: DataFrame): DataFrame = {
    val cells = (0 until rows)
      .map(r => s"CAST(sigs[b*$rows${if (r == 0) "" else s"+$r"}] AS STRING)")
    df.withColumn("band", explode(expr(
        s"""transform(sequence(0, ${bands - 1}), b -> named_struct(
           |  'band_id', b,
           |  'bh', md5(concat_ws('|', ${cells.mkString(", ")}))))""".stripMargin)))
      .select(col("doc_id"), col("band.band_id").as("band_id"),
        col("band.bh").as("bh"), col("sigs"))
  }

  // ----------------------------------------------------------- oracle
  /** `hashed` + `sigs` CTEs over a `shingles` CTE. */
  val sigCte: String = {
    val sigCols = (1 to perms).map(k => s"MIN(h1 + $k*h2) AS s$k").mkString(", ")
    s"""hashed AS (
       |  SELECT doc_id,
       |    ('0x' || SUBSTR(md5(shingle), 1, 14))::BIGINT AS h1,
       |    ('0x' || SUBSTR(md5(shingle), 17, $h2Hex))::BIGINT AS h2
       |  FROM shingles),
       |sigs AS (SELECT doc_id, $sigCols FROM hashed GROUP BY doc_id)""".stripMargin
  }

  /** `bands` (doc_id, band_id, bh) over the `sigs` CTE. */
  val bandCte: String = {
    val parts = (0 until bands).map { b =>
      val cc = (1 to rows).map(r => s"s${rows * b + r}::VARCHAR").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_id, md5($cc) AS bh FROM sigs"
    }
    s"bands AS (${parts.mkString(" UNION ALL ")})"
  }

  /** documents → shingles → sigs → bands. */
  lazy val bandsCtes: String = s"${Dedup.shingleCte},\n$sigCte,\n$bandCte"

  /** Matching-component count of two `sigs` rows aliased `a` and `b`.
    * Terms are parenthesised in groups of 16: DuckDB binds a flat
    * `+` chain left-deep, and 128 terms exceed its binder depth. */
  def eqSql(a: String, b: String): String =
    (1 to perms)
      .map(k => s"CASE WHEN $a.s$k = $b.s$k THEN 1 ELSE 0 END")
      .grouped(16).map(g => s"(${g.mkString(" + ")})").mkString(" + ")

  /** [[bandsCtes]] + `cand_pairs` + `est_pairs` (doc_a, doc_b,
    * est_jaccard): the oracle of [[pairs]]. */
  lazy val pairsCtes: String =
    s"""$bandsCtes,
       |cand_pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |est_pairs AS (
       |  SELECT doc_a, doc_b, CAST(${eqSql("sa", "sb")} AS DOUBLE) / $perms.0 AS est_jaccard
       |  FROM cand_pairs
       |  JOIN sigs sa ON doc_a = sa.doc_id
       |  JOIN sigs sb ON doc_b = sb.doc_id)""".stripMargin

  /** [[pairsCtes]] + per-node `labels` (node, label): transitive
    * closure by a recursive CTE (fine at oracle scale), then the min
    * over reachable nodes — the labels star contraction converges to.
    * Needs `WITH RECURSIVE`. */
  lazy val clusterCtes: String =
    s"""$pairsCtes,
       |pe AS (SELECT doc_a, doc_b FROM est_pairs WHERE est_jaccard >= $threshold),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pe
       |          UNION ALL SELECT doc_b, doc_a FROM pe),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |labels AS (
       |  SELECT src AS node, LEAST(src, MIN(dst)) AS label
       |  FROM reach GROUP BY src)""".stripMargin

  /** The oracle of [[probe]]: `cand$tag`, `est$tag`, `best$tag` and
    * `status$tag` (doc_id, status, match_doc_id, best_est_jaccard) for
    * the delta bands `deltaRel` against the index bands `indexRel`
    * (both (doc_id, band_id, bh) relations over the `sigs` CTE). */
  def probeCtes(tag: String, deltaRel: String, indexRel: String): String =
    s"""cand$tag AS (
       |  SELECT DISTINCT a.doc_id AS b_doc, c.doc_id AS c_doc
       |  FROM $deltaRel a JOIN $indexRel c
       |    ON a.band_id = c.band_id AND a.bh = c.bh),
       |est$tag AS (
       |  SELECT b_doc, c_doc, CAST(${eqSql("sa", "sb")} AS DOUBLE) / $perms.0 AS ej
       |  FROM cand$tag JOIN sigs sa ON b_doc = sa.doc_id
       |                JOIN sigs sb ON c_doc = sb.doc_id),
       |best$tag AS (
       |  SELECT b_doc, c_doc, ej,
       |    ROW_NUMBER() OVER (PARTITION BY b_doc ORDER BY ej DESC, c_doc) AS rk
       |  FROM est$tag WHERE ej >= $threshold),
       |status$tag AS (
       |  SELECT s.doc_id,
       |    CASE WHEN b.c_doc IS NOT NULL THEN 'dup_corpus' ELSE 'new' END AS status,
       |    b.c_doc AS match_doc_id, CAST(b.ej AS DOUBLE) AS best_est_jaccard
       |  FROM (SELECT DISTINCT doc_id FROM $deltaRel) s
       |  LEFT JOIN (SELECT * FROM best$tag WHERE rk = 1) b ON s.doc_id = b.b_doc)""".stripMargin
}

object MinHashLsh {
  /** The cheap point: 16 perms, b=4 bands of r=4 rows, near-dup at
    * J ≥ 0.5. Its S-curve admits J≈0.3 pairs — the pedagogic/cheap
    * variant behind the pair, cluster and curation gates. */
  val Small: MinHashLsh = new MinHashLsh(16, 4, 0.5)

  /** The production point: 128 perms, b=16 bands of r=8 rows, near-dup
    * at J ≥ 0.7. The S-curve threshold (1/b)^(1/r) ≈ 0.71 gives J≈0.5
    * pairs ~6% candidate probability while J≥0.9 pairs are certain —
    * the b/r a 100 TB dedup would ship (the tuning route is
    * `dedup_lsh_eval`: measure recall at a sampled SF, then pick b/r). */
  val Prod: MinHashLsh = new MinHashLsh(128, 16, 0.7)
}
