package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, TableProvider}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{AlpacaHttpClient, AlpacaOptions}
import graft.stub.AlpacaFixtures

/** One connector scan workload: a year of one record kind over a
  * seed-chosen symbol pair and a seed-shifted window, aggregated to
  * monthly rows exactly as the `alpaca_*_throughput` gates do. */
final case class ScanSpec(kind: String, symbols: Seq[String], startUs: Long, endUs: Long,
    delayMs: Long) {
  val bars: Boolean = kind == "bars"
  val format: String = if (bars) "Alpaca_Stocks_Bars" else "Alpaca_Stocks_Trades"
  val path: Seq[String] = Seq("v2", "stocks", if (bars) "bars" else "trades")
  val dataKey: String = if (bars) "bars" else "trades"
  /** Columns the monthly aggregate reads (what Spark prunes the scan to). */
  val columns: Seq[String] =
    if (bars) Seq("symbol", "time", "volume", "close") else Seq("symbol", "time", "price", "size")

  def options(endpoint: String, from: Long = startUs, to: Long = endUs): Map[String, String] =
    Map(
      "endpoint" -> endpoint,
      "APCA-API-KEY-ID" -> "bench-key",
      "APCA-API-SECRET-KEY" -> "bench-secret",
      "symbols" -> symbols.mkString("['", "','", "']"),
      "start" -> AlpacaOptions.microsToIso(from),
      "end" -> AlpacaOptions.microsToIso(to)) ++
      (if (bars) Map("timeframe" -> "1Min") else Map.empty)
}

object Scans {
  val DayUs: Long = AlpacaFixtures.DayUs
  val Pool: Seq[String] =
    Seq("AAPL", "MSFT", "AMZN", "GOOG", "META", "NVDA", "TSLA", "JPM", "XOM", "KO", "PEP", "WMT")
  private val Epoch = AlpacaOptions.parseIsoMicros("2019-01-01T00:00:00Z").get

  /** Two symbols from the pool and a whole-day window offset; 365 days
    * long, so record and request counts do not depend on the seed. */
  def spec(workload: String, seed: Long): ScanSpec = {
    val rnd = new java.util.Random(seed)
    val syms = scala.util.Random.javaRandomToRandom(rnd).shuffle(Pool).take(2).sorted
    val start = Epoch + rnd.nextInt(365) * DayUs
    workload match {
      case "bars_bulk" => ScanSpec("bars", syms, start, start + 365 * DayUs, delayMs = 0)
      case "trades_grid" => ScanSpec("trades", syms, start, start + 365 * DayUs, delayMs = 20)
    }
  }

  /** (symbol, month, count, integer sum, decimal-exact double sum). */
  type Agg = (String, String, Long, Long, Double)

  def frame(spark: SparkSession, s: ScanSpec, endpoint: String,
      from: Long, to: Long): DataFrame = {
    val df = spark.read.format(s.format).options(s.options(endpoint, from, to)).load()
    val g = df.groupBy(col("symbol"), date_format(col("time"), "yyyy-MM").as("month"))
    val agg =
      if (s.bars)
        g.agg(count(lit(1)).as("n"), sum(col("volume")).as("s"),
          sum(col("close").cast("decimal(18,2)")).cast("double").as("d"))
      else
        g.agg(count(lit(1)).as("n"), sum(col("size")).as("s"),
          sum(col("price").cast("decimal(18,2)") * col("size")).cast("double").as("d"))
    agg.orderBy(col("symbol"), col("month"))
  }

  def rows(collected: Array[Row]): Seq[Agg] =
    collected.toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))

  private def month(us: Long): String =
    java.time.Instant.ofEpochSecond(us / 1000000L).toString.take(7)

  private def cents(d: Double): Long =
    java.math.BigDecimal.valueOf(d).setScale(2, java.math.RoundingMode.HALF_UP)
      .movePointRight(2).longValueExact()

  /** Expected monthly aggregates from the fixture functions the stub
    * serves, with the decimal(18,2) rounding of the Spark side. */
  def expected(s: ScanSpec): Seq[Agg] =
    s.symbols.sorted.flatMap { sym =>
      val acc = scala.collection.mutable.TreeMap[String, (Long, Long, Long)]()
      def add(t: Long, si: Long, c: Long): Unit = {
        val m = month(t)
        val (n0, s0, c0) = acc.getOrElse(m, (0L, 0L, 0L))
        acc(m) = (n0 + 1, s0 + si, c0 + c)
      }
      if (s.bars)
        AlpacaFixtures.bars(sym, s.startUs, s.endUs, 60L * 1000000L)
          .foreach(b => add(b.timeUs, b.volume, cents(b.close)))
      else
        AlpacaFixtures.trades(sym, s.startUs, s.endUs)
          .foreach(t => add(t.timeUs, t.size, cents(t.price) * t.size))
      acc.toSeq.map { case (m, (n, si, c)) => (sym, m, n, si, c / 100.0) }
    }

  // ------------------------------------------------ direct connector access

  /** The registered DSv2 provider for a short name. */
  def provider(format: String): TableProvider =
    java.util.ServiceLoader.load(classOf[DataSourceRegister]).asScala
      .find(_.shortName().equalsIgnoreCase(format))
      .getOrElse(throw new IllegalStateException(s"no data source $format"))
      .asInstanceOf[TableProvider]

  def scanBuilder(s: ScanSpec, endpoint: String): ScanBuilder = {
    val p = provider(s.format)
    val opts = new CaseInsensitiveStringMap(s.options(endpoint).asJava)
    val table = p.getTable(p.inferSchema(opts), Array.empty, opts.asCaseSensitiveMap())
    val sb = table.asInstanceOf[SupportsRead].newScanBuilder(opts)
    sb match {
      case pr: SupportsPushDownRequiredColumns =>
        val full = table.schema()
        pr.pruneColumns(org.apache.spark.sql.types.StructType(s.columns.map(c => full(c))))
      case _ => ()
    }
    sb
  }

  final case class Plan(partitions: Array[InputPartition], factory: PartitionReaderFactory)

  def plan(s: ScanSpec, endpoint: String): Plan = {
    val batch = Tracer.span("AlpacaConnector.plan") {
      val b = scanBuilder(s, endpoint).build().toBatch
      (b, b.planInputPartitions())
    }
    Plan(batch._2, batch._1.createReaderFactory())
  }

  /** Drains one partition through the columnar reader; returns
    * (batches, rows, nanos spent in next()/get()). */
  def drain(plan: Plan, p: InputPartition): (Long, Long, Long) = {
    val reader = plan.factory.createColumnarReader(p)
    var batches = 0L
    var rows = 0L
    var ns = 0L
    try {
      var more = true
      while (more) {
        val t0 = System.nanoTime()
        more = Tracer.span("AlpacaConnector.next") {
          reader.next() && { rows += reader.get().numRows(); true }
        }
        ns += System.nanoTime() - t0
        if (more) batches += 1
      }
    } finally reader.close()
    (batches, rows, ns)
  }

  /** Pulls every planned partition once through the replay server (which
    * records what it has not seen) on `threads` threads. */
  def record(s: ScanSpec, endpoint: String, threads: Int): Unit = {
    val pl = plan(s, endpoint)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try pl.partitions.toSeq.map(p => pool.submit(() => drain(pl, p))).foreach(_.get())
    finally pool.shutdownNow()
  }

  // ------------------------------------------------ per-layer probe

  /** Sum of parsed instants, kept so the parse loop cannot be optimised away. */
  @volatile private var parsed = 0L

  /** Per-layer metrics the probe reports, with their units. */
  val ProbeMetrics: Seq[(String, String)] = Seq(
    "AlpacaConnector.plan_s" -> "s", "AlpacaConnector.partitions" -> "count",
    "AlpacaConnector.batches" -> "count",
    "AlpacaConnector.rows_per_batch" -> "rows", "AlpacaConnector.reader_ns_per_record" -> "ns",
    "AlpacaHttp.requests" -> "count", "AlpacaHttp.retries" -> "count",
    "AlpacaHttp.bytes" -> "bytes", "AlpacaHttp.pages" -> "count",
    "AlpacaHttp.ok_ratio" -> "fraction", "AlpacaHttp.wait_ms_p50" -> "ms",
    "AlpacaHttp.wait_ms_tail" -> "ms", "AlpacaHttp.wait_tail_pct" -> "percentile",
    "AlpacaHttp.skim_ns_per_byte" -> "ns/byte", "AlpacaHttp.consumer_wait_s" -> "s",
    "AlpacaRecords.decode_ns_per_record.bars" -> "ns",
    "AlpacaRecords.decode_ns_per_record.trades" -> "ns",
    "AlpacaRecords.records" -> "count", "AlpacaRecords.skipped" -> "count",
    "AlpacaOptions.iso_parse_ns" -> "ns")
  private val probeUnits = ProbeMetrics.toMap

  /** Layer numbers from driving the connector's public pieces on one
    * thread over every `stride`-th planned partition. */
  def probe(s: ScanSpec, replay: ReplayServer, stride: Int, metrics: Metrics): Unit = {
    def put(k: String, v: Double): Unit = metrics.put(k, v, probeUnits(k))
    val endpoint = replay.endpoint
    // planning: builder + build() + planInputPartitions(), median of 5
    val planTimes = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); plan(s, endpoint); (System.nanoTime() - t0) / 1e9
    }
    val pl = plan(s, endpoint)
    val sample = pl.partitions.indices.filter(_ % stride == 0).map(pl.partitions(_))
    put("AlpacaConnector.plan_s", Stat.median(planTimes))
    put("AlpacaConnector.partitions", pl.partitions.length)

    // reader: next()/get() on one thread
    replay.resetCounters()
    val drained = Tracer.span("AlpacaConnector.reader")(sample.map(drain(pl, _)))
    val batches = drained.map(_._1).sum
    val rows = drained.map(_._2).sum
    put("AlpacaConnector.batches", batches)
    put("AlpacaConnector.rows_per_batch", if (batches > 0) rows.toDouble / batches else 0.0)
    put("AlpacaConnector.reader_ns_per_record",
      if (rows > 0) drained.map(_._3).sum.toDouble / rows else 0.0)

    // HTTP: the sampled partitions' recorded request chains
    val chains = requestChains(replay.storedKeys, s, sample)
    val client = new AlpacaHttpClient(endpoint.stripSuffix("/v2"),
      Map("APCA-API-KEY-ID" -> "bench-key", "APCA-API-SECRET-KEY" -> "bench-secret"), s.path)
    replay.resetCounters()
    val waits = scala.collection.mutable.ArrayBuffer[Double]()
    var rawNs = 0L
    var rawBytes = 0L
    chains.foreach { case (params, tokens) =>
      tokens.foreach { tok =>
        val t0 = System.nanoTime()
        val b = Tracer.span("AlpacaHttp.getPageBytes")(client.getPageBytes(params, tok))
        val dt = System.nanoTime() - t0
        rawNs += dt; rawBytes += b.length; waits += dt / 1e6
      }
    }
    val attempts = replay.requests.get + replay.misses.get
    put("AlpacaHttp.requests", waits.size)
    put("AlpacaHttp.retries", replay.non2xx.get)
    put("AlpacaHttp.bytes", rawBytes)
    put("AlpacaHttp.ok_ratio",
      if (attempts > 0) (replay.requests.get - replay.non2xx.get).toDouble / attempts else 0.0)
    val tailP = Stat.tailPercentile(waits.size)
    put("AlpacaHttp.wait_ms_p50", Stat.median(waits.toSeq))
    put("AlpacaHttp.wait_ms_tail", Stat.percentile(waits.toSeq, tailP))
    put("AlpacaHttp.wait_tail_pct", tailP)

    // counted fetch (fetch + skim) drained without decode, then with decode
    var countedNs = 0L
    var pages = 0L
    chains.foreach { case (params, _) =>
      val t0 = System.nanoTime()
      Tracer.span("AlpacaHttp.fetchAllPagesCounted") {
        client.fetchAllPagesCounted(params).foreach(_ => pages += 1)
      }
      countedNs += System.nanoTime() - t0
    }
    put("AlpacaHttp.pages", pages)
    put("AlpacaHttp.skim_ns_per_byte",
      if (rawBytes > 0) math.max(0L, countedNs - rawNs).toDouble / rawBytes else 0.0)

    val dec = new Decoder(s)
    var waitNs = 0L
    chains.foreach { case (params, _) =>
      val it = client.fetchAllPagesCounted(params)
      var more = true
      while (more) {
        val t0 = System.nanoTime()
        more = it.hasNext
        val page = if (more) Some(it.next()) else None
        waitNs += System.nanoTime() - t0
        page.foreach(p => dec.decode(p.bytes))
      }
    }
    put("AlpacaHttp.consumer_wait_s", waitNs / 1e9)
    val kinds = Seq("bars", "trades")
    kinds.foreach { k =>
      put(s"AlpacaRecords.decode_ns_per_record.$k",
        if (k == s.kind && dec.records > 0) dec.nanos.toDouble / dec.records else 0.0)
    }
    put("AlpacaRecords.records", dec.records)
    put("AlpacaRecords.skipped", dec.skipped)

    // ISO timestamp parse over the wire strings of the decoded records;
    // the fastest of five rounds, the one least disturbed by other load
    val isos = dec.times.take(200000).map(AlpacaOptions.microsToIso).toArray
    val rounds = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      Tracer.span("AlpacaOptions.parseIsoMicros") {
        var i = 0
        while (i < isos.length) { parsed += AlpacaOptions.parseIsoMicros(isos(i)).get; i += 1 }
      }
      (System.nanoTime() - t0).toDouble / math.max(1, isos.length)
    }
    put("AlpacaOptions.iso_parse_ns", if (isos.isEmpty) 0.0 else rounds.min)
  }

  /** Per sampled partition: its first-page query params (without the page
    * token) and the token of every page of its chain, from the recorded
    * request URLs. */
  private def requestChains(keys: Seq[String], s: ScanSpec,
      sample: Seq[InputPartition]): Seq[(Seq[(String, String)], Seq[Option[String]])] = {
    def decode(q: String): Seq[(String, String)] =
      q.split("&").toSeq.filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }
    val prefix = "/" + s.path.mkString("/") + "?"
    val parsed = keys.filter(_.startsWith(prefix)).map(k => decode(k.stripPrefix(prefix)))
    val byChain = parsed.groupBy(_.filterNot(_._1 == "page_token"))
    sample.flatMap { p =>
      val part = p.asInstanceOf[graft.connector.SymbolTimeRangePartition]
      val start = AlpacaOptions.microsToIso(part.startMicros)
      val end = AlpacaOptions.microsToIso(part.endMicros)
      byChain.find { case (params, _) =>
        params.contains("symbols" -> part.symbol) && params.contains("start" -> start) &&
          params.contains("end" -> end)
      }.map { case (params, reqs) =>
        val toks = reqs.map(_.collectFirst { case ("page_token", t) => t })
          .sortBy(_.flatMap(_.toLongOption).getOrElse(-1L))
        (params, toks)
      }
    }
  }

  /** Walks array-envelope pages and decodes each record into column
    * vectors with the source's `parseIntoVectors`, timing the calls. */
  final class Decoder(s: ScanSpec) {
    private val parser: graft.core.RecordParser with graft.core.VectorWriteSupport =
      if (s.bars) graft.core.BarParser else graft.core.TradeParser
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    private val vecs = org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
      .allocateColumns(16384, parser.schema)
      .asInstanceOf[Array[org.apache.spark.sql.execution.vectorized.WritableColumnVector]]
    private val fieldToOut = parser.schema.fields.indices.toArray
    private val timeCol = parser.schema.fieldIndex("time")
    var records = 0L
    var skipped = 0L
    var nanos = 0L
    val times = scala.collection.mutable.ArrayBuffer[Long]()

    def decode(page: Array[Byte]): Unit = {
      import com.fasterxml.jackson.core.JsonToken._
      vecs.foreach(_.reset())
      val jp = mapper.createParser(page)
      var row = 0
      val t0 = System.nanoTime()
      Tracer.span("AlpacaRecords.parseIntoVectors") {
        try {
          var tk = jp.nextToken()
          while (tk != null) {
            if (tk == FIELD_NAME && jp.currentName() == s.dataKey && jp.nextToken() == START_OBJECT) {
              while (jp.nextToken() == FIELD_NAME) {
                val sym = org.apache.spark.unsafe.types.UTF8String.fromString(jp.currentName())
                jp.nextToken() // START_ARRAY
                while (jp.nextToken() == START_OBJECT) {
                  vecs.foreach(_.reserve(row + 1))
                  try {
                    parser.parseIntoVectors(sym, jp, vecs, fieldToOut, row)
                    row += 1
                  } catch { case _: IllegalArgumentException => skipped += 1 }
                }
              }
            }
            tk = jp.nextToken()
          }
        } finally jp.close()
      }
      nanos += System.nanoTime() - t0
      records += row
      if (times.size < 200000) (0 until row).foreach(i => times += vecs(timeCol).getLong(i))
    }
  }
}
