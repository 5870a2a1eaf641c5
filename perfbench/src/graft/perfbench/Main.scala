package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.stub.AlpacaStubServer

/** Benchmark harness: one workload per JVM, `local[cpus]`.
  *
  *   Main run --workload W --seed N --seconds S --trace 0|1 --cpus C
  *            --port P --data DIR --oracle DIR --work DIR --out FILE
  *   Main export-oracle FILE
  *
  * A run sets up `SetupRounds` times (session, warm-up; the first round
  * also fills the replay store) and reports the median set-up time, then
  * runs `warmPasses` untimed passes (the JIT's steady state), repeats the
  * workload for about S seconds, at least `MinPasses` times, and reports
  * medians. Outputs are checked after the timed region. With
  * `--trace 1` the timed passes are followed by one traced pass and, for
  * the scans, a one-thread probe of the connector layers; only per-layer
  * numbers are reported. */
object Main {
  /** Round one (from process start) is always the longest, so five
    * rounds leave a median that one stalled later round cannot move. */
  val SetupRounds = 5
  /** A median of at least two passes, even when one pass outlasts --seconds. */
  val MinPasses = 2
  /** Untimed full passes before the timed ones, while the JIT still
    * compiles hot paths: the first passes after set-up run 10-30 % slower
    * than later ones (the gate mix has already run once, cold, in set-up
    * round one). */
  def warmPasses(workload: String): Int = workload match {
    case "bars_bulk" => 3
    case _ => 1
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "export-oracle" :: path :: Nil => Gates.exportOracle(path)
    case "run" :: rest =>
      val kv = rest.grouped(2).collect { case List(k, v) => k.stripPrefix("--") -> v }.toMap
      val code = try run(Opts(kv)) catch {
        case e: Throwable => e.printStackTrace(); 1
      }
      System.exit(code)
    case _ =>
      System.err.println("usage: Main run --workload W ... | Main export-oracle FILE")
      System.exit(2)
  }

  final case class Opts(kv: Map[String, String]) {
    val workload: String = kv("workload")
    val seed: Long = kv("seed").toLong
    val seconds: Double = kv("seconds").toDouble
    val trace: Boolean = kv("trace") == "1"
    val cpus: Int = kv("cpus").toInt
    val port: Int = kv("port").toInt
    val data: String = kv("data")
    val oracle: String = kv("oracle")
    val work: String = kv("work")
    val out: String = kv("out")
  }

  final case class Pass(wallS: Double, requests: Long, records: Long, misses: Long,
      ok: Int, failed: Int)

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.core.SessionTuning.nanosAsLong(s)
    s
  }

  /** Generic first-use paths (aggregate, join, window, sort) so no timed
    * pass pays class loading and codegen for the whole framework. */
  def warmup(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val w = spark.range(2000).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE) AS v")
    w.groupBy(col("k")).agg(sum(col("v")), count(lit(1)))
      .join(broadcast(w.limit(10).withColumnRenamed("k", "k2")), col("k") === col("k2"))
      .collect()
    val win = org.apache.spark.sql.expressions.Window.partitionBy(col("k")).orderBy(col("id"))
    w.select(col("k"), row_number().over(win).as("rn"), sum(col("v")).over(win).as("cs"))
      .filter(col("rn") <= 3).orderBy(col("k"), col("rn")).collect()
  }

  def run(o: Opts): Int = {
    val scan = o.workload match {
      case "bars_bulk" | "trades_grid" => Some(Scans.spec(o.workload, o.seed))
      case "gates_mix" => None
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val replay = new ReplayServer(o.port, AlpacaStubServer.endpoint.stripSuffix("/v2"))
    var spark: SparkSession = null
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    try {
      // ---------------------------------------------------------- set-up
      val phases = ArrayBuffer[String]()
      def phase[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        try body finally phases += s"${Json.str(name)}: ${Json.num((System.nanoTime() - t0) / 1e9)}"
      }
      phases += s""""main": ${Json.num((System.currentTimeMillis() - jvmStartMs) / 1000.0)}"""
      HeapWatch.reset()
      val setups = (1 to SetupRounds).map { round =>
        val t0 = System.nanoTime()
        phase(s"session$round") {
          if (spark != null) spark.stop()
          spark = session(o)
        }
        // The replay store is filled once, in the first round, by the
        // workload itself: the scan's partitions pulled through the
        // connector's readers, or one pass of the whole gate mix (which
        // also pays every gate's first-use codegen, so the timed passes
        // measure dispatch and execution, not compilation).
        if (round == 1) phase("record") {
          replay.reset()
          scan match {
            case Some(s) => Scans.record(s, replay.endpoint, o.cpus)
            case None => Gates.Mix.foreach(g => Gates.run(spark, g, o.data))
          }
        }
        phase(s"warmup$round") {
          scan match {
            // the Spark read path over the first month of the workload's window
            case Some(s) =>
              Scans.frame(spark, s, replay.endpoint, s.startUs, s.startUs + 30 * Scans.DayUs).collect()
            case None => warmup(spark)
          }
        }
        // the first round counts from process start
        if (round == 1) (System.currentTimeMillis() - jvmStartMs) / 1000.0
        else (System.nanoTime() - t0) / 1e9
      }
      replay.recording = false
      replay.delayMs = scan.map(_.delayMs).getOrElse(0L)
      val expected = phase("expected")(scan.map(Scans.expected))
      replay.resetCounters()
      val records = expected.map(_.map(_._3).sum)

      // ---------------------------------------------------------- timed passes
      val gateResults = ArrayBuffer[(String, Gates.Result)]()
      val gateWalls = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
      val gateJobs = scala.collection.mutable.LinkedHashMap[String, Long]()
      var stats: SparkStats = null

      def pass(): Pass = {
        val r0 = replay.requests.get; val rec0 = replay.records.get; val m0 = replay.misses.get
        val t0 = System.nanoTime()
        var t1 = 0L
        var ok = 0
        var failed = 0
        scan match {
          case Some(s) =>
            try {
              val rows = Scans.frame(spark, s, replay.endpoint, s.startUs, s.endUs).collect()
              t1 = System.nanoTime()
              if (Scans.rows(rows) == expected.get) ok += 1
              else { failed += 1; System.err.println(s"${o.workload}: monthly aggregates differ") }
            } catch { case e: Exception => e.printStackTrace(); failed += 1 }
          case None =>
            Gates.Mix.foreach { g =>
              val j0 = Option(stats).map(_.jobsStarted.get).getOrElse(0L)
              val g0 = System.nanoTime()
              try {
                gateResults += g -> Tracer.span(s"operators.$g") {
                  Tracer.ambientParent = Tracer.current
                  Gates.run(spark, g, o.data)
                }
              } catch { case e: Exception => e.printStackTrace(); failed += 1 }
              gateWalls.getOrElseUpdate(g, ArrayBuffer()) += (System.nanoTime() - g0) / 1e9
              Option(stats).foreach(st => gateJobs(g) = st.jobsStarted.get - j0)
            }
            Tracer.ambientParent = 0L
        }
        if (t1 == 0L) t1 = System.nanoTime()
        Pass((t1 - t0) / 1e9, replay.requests.get - r0, replay.records.get - rec0,
          replay.misses.get - m0, ok, failed)
      }

      val warm = (1 to warmPasses(o.workload)).map(_ => pass())
      gateWalls.clear()
      HeapWatch.reset()
      val passes = ArrayBuffer[Pass]()
      val tStart = System.nanoTime()
      def elapsed = (System.nanoTime() - tStart) / 1e9
      do passes += pass()
      while (passes.size < MinPasses || elapsed + Stat.median(passes.map(_.wallS).toSeq) <= o.seconds)
      // no collection during the passes: what is in use at their end
      val heapSamples = HeapWatch.samplesMb
      val heapPeakMb =
        if (HeapWatch.peakMb > 0) HeapWatch.peakMb
        else (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576.0

      // traced pass + probe
      val layer = new Metrics
      if (o.trace) {
        stats = new SparkStats
        val streams = new StreamStats
        spark.sparkContext.addSparkListener(stats)
        spark.streams.addListener(streams)
        Tracer.enabled = true
        gateWalls.clear()
        replay.resetCounters()
        val startMs = System.currentTimeMillis()
        val traced = Tracer.span("bench.pass") {
          Tracer.ambientParent = Tracer.current
          pass()
        }
        val endMs = System.currentTimeMillis()
        stats.settle()
        spark.sparkContext.removeSparkListener(stats)
        spark.streams.removeListener(streams)
        passes += traced
        val untraced = Stat.median(passes.init.map(_.wallS).toSeq)
        layer.put("trace.overhead_s", traced.wallS - untraced, "s")
        layer.put("trace.wall_s", traced.wallS, "s")
        layer.put("spark.jobs", stats.jobsStarted.get, "count")
        layer.put("spark.stages", stats.stages.get, "count")
        layer.put("spark.tasks", stats.tasksEnded.get, "count")
        layer.put("spark.driver_s", stats.idleSeconds(startMs, endMs), "s")
        layer.put("spark.scheduler_delay_s", stats.schedulerDelayMs.get / 1000.0, "s")
        layer.put("spark.task_run_s", stats.runMs.get / 1000.0, "s")
        layer.put("spark.task_cpu_s", stats.cpuNs.get / 1e9, "s")
        layer.put("spark.gc_s", stats.gcMs.get / 1000.0, "s")
        layer.put("spark.shuffle_read_bytes", stats.shuffleReadBytes.get, "bytes")
        layer.put("spark.shuffle_write_bytes", stats.shuffleWriteBytes.get, "bytes")
        layer.put("spark.spill_bytes", stats.spillBytes.get, "bytes")
        val batchS = streams.batchMs.asScala.toSeq.map(_.toDouble / 1000.0)
        layer.put("AlpacaMicroBatch.batches", if (scan.isEmpty) batchS.size else 0, "count")
        layer.put("AlpacaMicroBatch.batch_s_p50",
          if (scan.isEmpty) Stat.median(batchS) else 0.0, "s")
        Gates.Mix.foreach { g =>
          layer.put(s"operators.$g.wall_s", gateWalls.get(g).map(_.last).getOrElse(0.0), "s")
          layer.put(s"operators.$g.jobs", gateJobs.getOrElse(g, 0L).toDouble, "count")
        }
        layer.put("server.busy_s", replay.busyNanos.get / 1e9, "s")
        layer.put("server.busy_share", replay.busyNanos.get / 1e9 / traced.wallS, "fraction")
        layer.put("server.requests", replay.requests.get, "count")
        layer.put("server.bytes", replay.bytes.get, "bytes")
        layer.put("server.misses", replay.misses.get, "count")
        layer.put("server.delay_s", replay.delayNanos.get / 1e9, "s")
        scan match {
          case Some(s) =>
            Tracer.span("bench.probe")(Scans.probe(s, replay, if (s.bars) 1 else 18, layer))
          case None => Scans.ProbeMetrics.foreach { case (k, u) => layer.put(k, 0.0, u) }
        }
      }

      // ---------------------------------------------------------- checks
      val checked = warm ++ passes
      var failed = checked.map(_.failed).sum
      var attempted = checked.map(p => p.ok + p.failed).sum
      val requests = checked.map(_.requests).distinct
      if (requests.size != 1) { failed += 1; attempted += 1; System.err.println(s"request counts differ: $requests") }
      val misses = checked.map(_.misses).sum
      if (misses > 0) { failed += 1; attempted += 1; System.err.println(s"replay misses: $misses") }
      if (scan.isEmpty) {
        val oracle = scala.collection.mutable.HashMap[String, Option[String]]()
        gateResults.foreach { case (g, r) =>
          val want = oracle.getOrElseUpdate(g, Gates.oracleHash(spark, s"${o.oracle}/$g.parquet", r))
          attempted += 1
          if (!want.contains(Gates.hash(r))) {
            failed += 1
            System.err.println(s"gate $g: canonical hash differs from the DuckDB oracle")
          }
        }
      }
      val fromServer = passes.head.records
      val recs = records.getOrElse(fromServer)
      if (records.exists(_ != fromServer)) {
        failed += 1; attempted += 1
        System.err.println(s"records served $fromServer != expected ${records.get}")
      }

      val timed = if (o.trace) passes.init else passes
      val e2e = new Metrics
      e2e.put("setup_s", Stat.median(setups), "s")
      e2e.put("wall_s", Stat.median(timed.map(_.wallS).toSeq), "s")
      e2e.put("records_per_s", Stat.median(timed.map(p => recs / p.wallS).toSeq), "records/s")
      e2e.put("api_requests", passes.head.requests, "count")
      e2e.put("ok_ratio", 1.0 - failed.toDouble / math.max(1, attempted), "fraction")
      e2e.put("heap_peak_mb", heapPeakMb, "MB")

      val metrics =
        if (!o.trace) e2e
        else {
          layer.put("bench.fail_ratio", failed.toDouble / math.max(1, attempted), "fraction")
          layer.put("bench.setup_first_s", setups.head, "s")
          layer.put("trace.spans", Tracer.all.size, "count")
          val self = Tracer.selfSecondsByLayer
          Seq("bench", "operators", "spark", "AlpacaMicroBatch", "AlpacaConnector", "AlpacaHttp",
            "AlpacaRecords", "AlpacaOptions").foreach { l =>
            layer.put(s"trace.self_s.$l", self.getOrElse(l, 0.0), "s")
          }
          Tracer.writeJsonLines(java.nio.file.Paths.get(s"${o.work}/../traces/${o.workload}-${o.seed}.jsonl"))
          layer
        }
      val info = Seq(
        "passes" -> timed.size.toString,
        "phases_s" -> phases.mkString("{", ", ", "}"),
        "wall_s_all" -> timed.map(p => Json.num(p.wallS)).mkString("[", ",", "]"),
        "setup_s_all" -> setups.map(Json.num).mkString("[", ",", "]"),
        "records" -> recs.toString,
        "heap_after_gc_mb" -> heapSamples.map(Json.num).mkString("[", ",", "]"),
        "symbols" -> Json.str(scan.map(_.symbols.mkString(",")).getOrElse("")),
        "start" -> Json.str(scan.map(s => graft.core.AlpacaOptions.microsToIso(s.startUs)).getOrElse("")),
        "gate_wall_s" -> gateWalls.map { case (g, ws) => Json.str(g) + ": " + ws.map(Json.num).mkString("[", ",", "]") }
          .mkString("{", ", ", "}"))
      val json =
        s"""{"correct": ${failed == 0}, "attempted": ${math.max(1, attempted)}, "failed": $failed, """ +
          s""""metrics": ${metrics.toJson}, "info": {${info.map { case (k, v) => Json.str(k) + ": " + v }.mkString(", ")}}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), json + "\n")
      0
    } finally {
      replay.stop()
      if (spark != null) spark.stop()
      AlpacaStubServer.stop()
    }
  }
}
