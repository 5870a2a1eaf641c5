package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Canon, SparkEntry}

/** The job-heavy gate mix: each gate runs through its `SparkEntry`
  * entry point and its result is collected with columns in name order
  * (Canon's layout); canonical hashing happens after the timed region. */
object Gates {
  val Mix: Seq[String] =
    Seq("dedup_clusters", "pipeline_curate_v2", "alpaca_stream_bars_scan", "q1_agg")

  /** Writes `{gate: oracle SQL}` for the mix (input of the DuckDB step). */
  def exportOracle(path: String): Unit = {
    val sql = SparkEntry.oracleSql
    val body = Mix.map { g =>
      val s = sql.getOrElse(g, throw new IllegalStateException(s"$g has no oracle SQL"))
      "  " + Json.str(g) + ": " + Json.str(s)
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }

  final case class Result(rows: Array[Row], columns: Seq[String], types: Map[String, org.apache.spark.sql.types.DataType])

  /** Runs one gate and collects its result: the gate's own plan and jobs,
    * columns in name order. */
  def run(spark: SparkSession, name: String, dataDir: String): Result = {
    val df = SparkEntry.queries(name)(spark, dataDir)
    val cols = df.columns.sorted.toSeq
    val proj = df.selectExpr(cols.map(c => s"`$c`"): _*)
    Result(proj.collect(), cols, df.schema.fields.map(f => f.name -> f.dataType).toMap)
  }

  /** Canon's canonical hash of collected rows. */
  def hash(r: Result): String = {
    val lines = r.rows.map(row => r.columns.indices.map(i => Canon.renderValue(row.get(i))).mkString("\u0001"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[AnyRef]])
    Canon.md5(lines)
  }

  /** Canon hash of the DuckDB oracle answer, its columns cast to the types
    * of the Spark answer; None when the column sets differ. */
  def oracleHash(spark: SparkSession, parquet: String, like: Result): Option[String] = {
    val df = spark.read.parquet(parquet)
    if (df.columns.sorted.toSeq != like.columns) None
    else {
      val cast = df.select(like.columns.map(c => col(s"`$c`").cast(like.types(c)).as(c)): _*)
      Some(Canon.md5(Canon.canonicalLines(cast)))
    }
  }
}

/** Minimal JSON rendering for the harness's outputs. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
}

/** Ordered metric map: name -> (value, unit). */
final class Metrics {
  private val m = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)
  def toJson: String = m.map { case (k, (v, u)) =>
    s"${Json.str(k)}: {${Json.str("value")}: ${Json.num(v)}, ${Json.str("unit")}: ${Json.str(u)}}"
  }.mkString("{", ", ", "}")
}
