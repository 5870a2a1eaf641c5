package graft.operators

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The MinHash/LSH contract of both operating points, checked against
  * a plain-Scala reference instead of argued in comments: signature
  * values, the per-row (streaming) formulation, the derived constants,
  * and the persisted band index under concurrent first builds. */
class MinHashLshSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private val points = Seq(MinHashLsh.Small, MinHashLsh.Prod)

  private val texts = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat",
    3L -> "a b c a b c a b c d",
    4L -> "alpha beta gamma",
    5L -> "two words")

  private def docs: DataFrame = {
    import spark.implicits._
    texts.toDF("doc_id", "text")
  }

  /** md5 → h1/h2 → min over shingles of h1 + k·h2, in exact (throwing)
    * long arithmetic — so the overflow-freedom of h2's width is
    * checked along the way. */
  private def referenceSigs(p: MinHashLsh): Map[Long, Seq[Long]] =
    texts.flatMap { case (id, text) =>
      val w = text.split(" ")
      if (w.length < 3) None
      else {
        val hashes = w.sliding(3).map(_.mkString(" ")).toSeq.distinct.map { s =>
          val hex = MessageDigest.getInstance("MD5")
            .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
          (java.lang.Long.parseLong(hex.substring(0, 14), 16),
            java.lang.Long.parseLong(hex.substring(16, 16 + p.h2Hex), 16))
        }
        Some(id -> (1 to p.perms).map { k =>
          hashes.map { case (h1, h2) =>
            Math.addExact(h1, Math.multiplyExact(k.toLong, h2))
          }.min
        })
      }
    }.toMap

  private def sigMap(df: DataFrame): Map[Long, Seq[Long]] =
    df.select(col("doc_id"), col("sigs")).distinct().collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("derived constants: rows per band, h2 hex width, near-dup count") {
    assert(MinHashLsh.Small.rows == 4 && MinHashLsh.Prod.rows == 8)
    assert(MinHashLsh.Small.h2Hex == 14 && MinHashLsh.Prod.h2Hex == 13)
    assert(MinHashLsh.Small.nearDupCount == 8)
    assert(MinHashLsh.Prod.nearDupCount == 90)
  }

  test("a point whose bands do not divide its perms is rejected") {
    intercept[IllegalArgumentException](new MinHashLsh(16, 5, 0.5))
    intercept[IllegalArgumentException](new MinHashLsh(128, 0, 0.7))
  }

  test("Spark signatures equal the plain-Scala md5 reference at both points") {
    points.foreach { p =>
      val sigs = p.sigs(Dedup.shingleDfFrom(docs))
      val got = sigs.collect().map { r =>
        r.getLong(0) -> (1 to p.perms).map(k => r.getLong(k))
      }.toMap
      assert(got == referenceSigs(p), s"${p.perms} perms")
      assert(sigMap(p.banded(sigs)) == referenceSigs(p), s"${p.perms} perms packed")
    }
  }

  test("per-row (streaming) signatures and bands equal the aggregate ones") {
    points.foreach { p =>
      val rowSigs = p.withRowSigs(Dedup.withShingleArray(docs))
      val agg = p.bandsOf(docs)
      assert(sigMap(rowSigs) == referenceSigs(p), s"${p.perms} perms")
      def keys(df: DataFrame) = df.select(col("doc_id"), col("band_id"), col("bh"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val rowKeys = keys(p.rowBanded(rowSigs))
      assert(rowKeys == keys(agg), s"${p.perms} perms bands")
      assert(rowKeys.size == referenceSigs(p).size * p.bands)
    }
  }

  test("persisted corpus index: concurrent first builds and a rebuild all succeed") {
    val dir = Files.createTempDirectory("graft_minhash_idx")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("documents.parquet"))
    val sf = dir.toString
    val expected = Dedup.bandSummary(Dedup.corpusBandIndex(spark, sf))
      .collect().toSeq
    val builds0 = Dedup.corpusIndexBuilds.get()
    val pool = Executors.newFixedThreadPool(5)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    try {
      val probes = (1 to 4).map { _ =>
        Future {
          start.await()
          Dedup.withCorpusIndex(spark, sf)(idx =>
            Dedup.bandSummary(idx).collect().toSeq)
        }
      }
      val persist = Future {
        start.await()
        Dedup.bandIndexPersist(spark, sf).collect().toSeq
      }
      start.countDown()
      (probes :+ persist).foreach { f =>
        assert(Await.result(f, 10.minutes) == expected)
      }
      // one first build among the probes plus the sink gate's own
      // rebuild at most; a get-then-put race builds once per caller
      val builds = Dedup.corpusIndexBuilds.get() - builds0
      assert(builds >= 1 && builds <= 2, s"$builds index builds")
      assert(Dedup.bandSummary(Dedup.persistedCorpusIndex(spark, sf))
        .collect().toSeq == expected)
    } finally {
      pool.shutdownNow()
      graft.core.Scratch.deleteNow(sf)
    }
  }
}
