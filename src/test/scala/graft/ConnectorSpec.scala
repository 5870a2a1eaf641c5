package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.stub.AlpacaStubServer

/** End-to-end DSv2 scans against the in-process HTTP stub (SURVEY §5
  * rebuild plan): format registration, option validation at load(),
  * partition planning, pagination, retry, malformed-skip. */
class ConnectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark

  override def afterAll(): Unit = AlpacaStubServer.stop()

  private def barsReader(extra: (String, String)*) =
    spark.read.format("Alpaca_Stocks_Bars").options(Map(
      "endpoint" -> AlpacaStubServer.endpoint,
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "symbols" -> "['AAPL','MSFT']",
      "timeframe" -> "1Hour",
      "start" -> "2021-01-04T00:00:00Z",
      "end" -> "2021-01-06T00:00:00Z") ++ extra.toMap)

  test("SQL entry points: CREATE ... USING DDL and temp-view SQL (SURVEY §3.2)") {
    // DDL route: the DSv2 TableProvider resolves by its registered
    // short name in `USING`, options become the scan config
    spark.sql(s"""
      CREATE OR REPLACE TEMPORARY VIEW bars_ddl
      USING Alpaca_Stocks_Bars
      OPTIONS (
        endpoint '${AlpacaStubServer.endpoint}',
        `APCA-API-KEY-ID` 'k', `APCA-API-SECRET-KEY` 's',
        symbols "['AAPL','MSFT']", timeframe '1Hour',
        start '2021-01-04T00:00:00Z', `end` '2021-01-06T00:00:00Z')""")
    val viaDdl = spark.sql(
      "SELECT symbol, count(*) AS n FROM bars_ddl GROUP BY symbol ORDER BY symbol")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaDdl == Seq(("AAPL", 48L), ("MSFT", 48L)))
    // pushdown works through SQL too: symbol predicate prunes partitions
    assert(spark.sql("SELECT * FROM bars_ddl WHERE symbol = 'AAPL'").count() == 48)

    // temp-view route (the reference README's pattern)
    barsReader().load().createOrReplaceTempView("bars_view")
    assert(spark.sql("SELECT count(DISTINCT symbol) FROM bars_view")
      .collect().head.getLong(0) == 2)
    spark.catalog.dropTempView("bars_ddl")
    spark.catalog.dropTempView("bars_view")
  }

  test("bars scan: full schema, 48 hourly bars × 2 symbols") {
    val df = barsReader().load()
    assert(df.schema.fieldNames.toSeq ==
      Seq("symbol", "time", "open", "high", "low", "close", "volume", "trade_count", "vwap"))
    val rows = df.collect()
    assert(rows.length == 96)
    assert(df.filter(col("symbol") === "AAPL").count() == 48)
    assert(df.agg(min(col("time")).cast("string")).head.getString(0)
      == "2021-01-04 00:00:00")
  }

  test("pagination (limit=7) returns identical data") {
    val full = barsReader().load().orderBy("symbol", "time").collect()
    val paged = barsReader("limit" -> "7").load().orderBy("symbol", "time").collect()
    assert(full.toSeq == paged.toSeq)
  }

  test("filter pushdown prunes planned partitions (fewer API calls)") {
    // 2-day range with limit=7 → bars dynamic sizing gives 2 intervals
    // × 2 symbols = 4 partitions; symbol pushdown halves that.
    val unfiltered = barsReader("limit" -> "7").load()
    val filtered = barsReader("limit" -> "7").load()
      .filter(col("symbol") === "AAPL")
    assert(unfiltered.rdd.getNumPartitions == 4)
    assert(filtered.rdd.getNumPartitions == 2)
    assert(filtered.count() == 48)
    // time-range pushdown narrows intervals: restrict to 6 hours
    val timeFiltered = barsReader().load()
      .filter(col("time") >= lit("2021-01-04 06:00:00").cast("timestamp") &&
        col("time") < lit("2021-01-04 12:00:00").cast("timestamp"))
    assert(timeFiltered.count() == 12) // 6 hourly bars × 2 symbols
  }

  test("time <= pushdown keeps the bar exactly at the bound (half-open fetch)") {
    // bound exactly on the hourly grid; narrowing end to the literal
    // (not the next micro) would silently lose this row
    val df = barsReader().load()
      .filter(col("symbol") === "AAPL" &&
        col("time") <= lit("2021-01-04 06:00:00").cast("timestamp"))
    val times = df.select(date_format(col("time"), "yyyy-MM-dd HH:mm:ss"))
      .collect().map(_.getString(0)).sorted
    assert(times.length == 7 && times.last == "2021-01-04 06:00:00")
  }

  test("sort=desc is honored by the fetch: pushed limit returns latest rows") {
    val df = barsReader("sort" -> "desc", "end" -> "2021-01-05T00:00:00Z")
      .load().filter(col("symbol") === "AAPL").limit(3)
    val times = df.select(date_format(col("time"), "yyyy-MM-dd HH:mm:ss"))
      .collect().map(_.getString(0)).toSet
    assert(times == Set("2021-01-04 23:00:00", "2021-01-04 22:00:00", "2021-01-04 21:00:00"))
  }

  test("retry: 503 twice then success still yields data (FLAKY symbol)") {
    val df = spark.read.format("Alpaca_Stocks_Bars").options(Map(
      "endpoint" -> AlpacaStubServer.endpoint,
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "symbols" -> "['FLAKY']", "timeframe" -> "1Hour",
      "start" -> "2021-01-04T00:00:00Z", "end" -> "2021-01-04T06:00:00Z")).load()
    assert(df.count() == 6)
  }

  test("retries option is honored: too few retries surfaces the 503") {
    // Distinct start values per case: the stub's fault counter is keyed
    // by the partition's start param, so each range sees a fresh
    // fail-twice-then-succeed sequence.
    def flaky(extra: (String, String)*) =
      spark.read.format("Alpaca_Stocks_Bars").options(Map(
        "endpoint" -> AlpacaStubServer.endpoint,
        "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
        "symbols" -> "['FLAKY']", "timeframe" -> "1Hour") ++ extra.toMap)
    // retries=1 gives up after the second 503 → the scan fails loudly
    val e = intercept[Exception] {
      flaky("start" -> "2021-02-01T00:00:00Z", "end" -> "2021-02-01T06:00:00Z",
        "retries" -> "1").load().count()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(chain.contains("503"), s"expected a surfaced 503, got: $chain")
    // retries=2 rides out exactly two faults on a fresh counter
    assert(flaky("start" -> "2021-03-01T00:00:00Z", "end" -> "2021-03-01T06:00:00Z",
      "retries" -> "2").load().count() == 6)
  }

  test("oversized limit clamps to the 10000 API max; scan unaffected") {
    assert(barsReader("limit" -> "99999").load().count() == 96)
  }

  test("malformed record is skipped, not fatal") {
    val df = spark.read.format("Alpaca_Stocks_Bars").options(Map(
      "endpoint" -> AlpacaStubServer.endpoint,
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "symbols" -> "['MALFORMED']", "timeframe" -> "1Day",
      "start" -> "2021-01-04T00:00:00Z", "end" -> "2021-01-06T00:00:00Z")).load()
    val warns = captureWarnings("graft.connector.AlpacaPageSource") {
      assert(df.count() == 2) // bad first record dropped, 2 daily bars kept
    }
    // one summary line for the partition, not one line per record
    val summary = warns.filter(_.contains("'MALFORMED'"))
    assert(summary.size == 1, s"expected one summary WARN, got: $warns")
    assert(summary.head.contains("Skipped 1 malformed record(s)") &&
      summary.head.contains("missing field 'h'"), summary.head)
  }

  /** WARN+ messages logged under `loggerName` while `body` runs (local
    * mode: executor tasks log in this JVM). */
  private def captureWarnings(loggerName: String)(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          lines.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger(loggerName).asInstanceOf[Logger]
    appender.start()
    logger.addAppender(appender)
    try body finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    lines.asScala.toSeq
  }

  test("trades scan: conditions array flattened to CSV string") {
    val df = spark.read.format("Alpaca_Stocks_Trades").options(Map(
      "endpoint" -> AlpacaStubServer.endpoint,
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "symbols" -> "['AAPL']",
      "start" -> "2021-01-04T00:00:00Z", "end" -> "2021-01-04T12:00:00Z")).load()
    val conds = df.select("conditions").distinct().collect().map(_.getString(0)).toSet
    assert(conds == Set("", "@", "@,I", "F,T"))
  }

  test("crypto trades scan: v1beta3 path, fractional sizes, taker side") {
    val df = spark.read.format("Alpaca_Crypto_Trades").options(Map(
      "endpoint" -> AlpacaStubServer.endpoint,
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "symbols" -> "['BTC/USD','ETH/USD']",
      "start" -> "2021-01-04T00:00:00Z", "end" -> "2021-01-04T06:00:00Z")).load()
    assert(df.schema.fieldNames.toSeq ==
      Seq("symbol", "time", "price", "size", "id", "taker_side"))
    assert(df.count() == 144) // 72 five-minute trades × 2 symbols
    // slash symbols survive URL-encoding AND prune partitions on pushdown
    val btc = df.filter(col("symbol") === "BTC/USD")
    assert(btc.rdd.getNumPartitions == 1 && btc.count() == 72)
    // fractional coin sizes arrive as exact grid doubles
    val sizes = df.select("size").distinct().collect().map(_.getDouble(0))
    assert(sizes.forall(s => s > 0 && s * 4 == (s * 4).toLong.toDouble))
    assert(df.select("taker_side").distinct().collect()
      .map(_.getString(0)).toSet == Set("B", "S"))
  }

  test("crypto quotes scan: bid/ask fields, positive spread throughout") {
    val df = spark.read.format("Alpaca_Crypto_Quotes").options(Map(
      "endpoint" -> AlpacaStubServer.endpoint,
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "symbols" -> "['BTC/USD']",
      "start" -> "2021-01-04T00:00:00Z", "end" -> "2021-01-04T02:00:00Z")).load()
    assert(df.schema.fieldNames.toSeq ==
      Seq("symbol", "time", "bid_price", "bid_size", "ask_price", "ask_size"))
    assert(df.count() == 60) // 2-minute quotes over 2 hours
    // the book is never crossed in the fixture: ask > bid on every row
    assert(df.filter(col("ask_price") <= col("bid_price")).count() == 0)
  }

  test("stock quotes scan: NBBO fields, conditions CSV, uncrossed book") {
    val df = spark.read.format("Alpaca_Stocks_Quotes").options(Map(
      "endpoint" -> AlpacaStubServer.endpoint,
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "symbols" -> "['AAPL']",
      "start" -> "2021-01-04T00:00:00Z", "end" -> "2021-01-04T03:00:00Z")).load()
    assert(df.schema.fieldNames.toSeq == Seq("symbol", "time",
      "ask_exchange", "ask_price", "ask_size",
      "bid_exchange", "bid_price", "bid_size", "conditions", "tape"))
    assert(df.count() == 60) // 3-minute quotes over 3 hours
    assert(df.filter(col("ask_price") <= col("bid_price")).count() == 0)
    val conds = df.select("conditions").distinct().collect().map(_.getString(0)).toSet
    assert(conds == Set("", "R", "R,O"))
    // feed enum validated at load()
    intercept[IllegalArgumentException] {
      spark.read.format("Alpaca_Stocks_Quotes").options(Map(
        "endpoint" -> AlpacaStubServer.endpoint,
        "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
        "symbols" -> "['AAPL']", "feed" -> "bogus",
        "start" -> "2021-01-04T00:00:00Z", "end" -> "2021-01-04T03:00:00Z")).load()
    }
  }

  test("corporate actions: nullable dates and defaults") {
    val df = spark.read.format("Alpaca_Corporate_Actions").options(Map(
      "endpoint" -> AlpacaStubServer.endpoint,
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "symbols" -> "['AAPL']",
      "start" -> "2021-01-01T00:00:00Z", "end" -> "2021-03-01T00:00:00Z")).load()
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.isNullAt(3))) // some payable_date is null
    assert(df.filter(col("type") === "split").count() > 0)
  }

  test("validation fails at load() time on the driver") {
    intercept[IllegalArgumentException] {
      barsReader().option("timeframe", "NotATimeframe").load()
    }
    intercept[IllegalArgumentException] {
      barsReader().option("adjustment", "bogus").load()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("Alpaca_Stocks_Bars")
        .option("symbols", "['AAPL']").load() // no API keys
    }
    val e = intercept[IllegalArgumentException] {
      barsReader().option("integrity_checks", "banana").load()
    }
    assert(e.getMessage.contains("integrity_checks"))
  }

  test("column pruning: narrow projection reads only requested fields") {
    val df = barsReader().load().select(col("symbol"), col("close"))
    assert(df.schema.fieldNames.toSeq == Seq("symbol", "close"))
    val rows = df.collect()
    assert(rows.length == 96 && rows.forall(_.getDouble(1) > 0))
    // pruned schema must reach the scan, not just the projection
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!scanLine.contains("vwap"), s"scan not pruned: $scanLine")
  }

  test("limit pushdown caps the API page size per partition") {
    val df = barsReader().load().limit(5)
    assert(df.collect().length == 5)
  }

  test("batch scans read columnar: one ColumnarBatch per API page") {
    val df = barsReader().load()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"expected columnar scan:\n$plan")
    assert(df.count() == 96) // identical data through the columnar path
    // pruned projection also flows through the vectors
    val pruned = barsReader().load().select(col("symbol"), col("close"))
    assert(pruned.collect().forall(_.getDouble(1) > 0))
  }

  test("every registered source resolves as a Spark format (27-source surface)") {
    // the registry file IS the documented surface (USAGE.md): every
    // line must resolve via DataSourceRegister — a format that fails
    // with our own option validation has resolved; "Failed to find
    // data source" means a class fell out of the registry
    val names = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(
        "/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister"))
      .getLines().map(_.trim).filter(_.nonEmpty).toSeq
    assert(names.length == 27, s"registry has ${names.length} sources, expected 27")
    val shortNames = names.map { cls =>
      Class.forName(cls).getDeclaredConstructor().newInstance()
        .asInstanceOf[org.apache.spark.sql.sources.DataSourceRegister].shortName()
    }
    shortNames.foreach { short =>
      val e = intercept[Exception] { spark.read.format(short).load() }
      assert(!Option(e.getMessage).getOrElse("").contains("Failed to find data source"),
        s"format '$short' did not resolve: ${e.getMessage}")
    }
  }

  // ------------------------------------------------- hostile inputs
  // The failure-mode contract mirrors the reference's asymmetry
  // (common.py:484-486): RECORD-level damage is warned and skipped
  // (MALFORMED test above); STRUCTURAL page damage — truncated JSON,
  // empty body, token cycles — must fail the task loudly. Silently
  // skipping a broken PAGE would silently lose every record behind it.

  private def hostileReader(symbol: String, end: String = "2021-01-05T00:00:00Z") =
    spark.read.format("Alpaca_Stocks_Bars").options(Map(
      "endpoint" -> AlpacaStubServer.endpoint,
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "symbols" -> s"['$symbol']", "timeframe" -> "1Hour",
      "start" -> "2021-01-04T00:00:00Z", "end" -> end))

  private def causeChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  test("truncated JSON mid-page fails the task (no partial silent page)") {
    val e = intercept[Throwable] { hostileReader("TRUNCATED").load().count() }
    assert(causeChain(e).toLowerCase.contains("end-of-input")
      || causeChain(e).toLowerCase.contains("unexpected"),
      s"expected a JSON EOF failure, got: ${causeChain(e)}")
  }

  test("HTTP 200 with empty body fails the page, not 'no data'") {
    val e = intercept[Throwable] { hostileReader("EMPTYBODY").load().count() }
    assert(causeChain(e).contains("empty body"),
      s"expected the empty-body guard, got: ${causeChain(e)}")
  }

  test("next_page_token cycle is detected instead of paging forever") {
    // the stub re-issues token "0" with every page — without the
    // guard this count() would never return
    val e = intercept[Throwable] {
      hostileReader("TOKENLOOP").load().count()
    }
    assert(causeChain(e).contains("pagination cycle"),
      s"expected the cycle guard, got: ${causeChain(e)}")
  }

  test("scan integrity: a re-served (duplicated) page fails the task loudly") {
    // DUPPAGE serves the same records on both pages of the chain — the
    // transient fault class that would otherwise flow through the
    // permissive record skip into silently-wrong aggregates. The
    // per-symbol instant-ordering invariant trips on the first
    // repeated instant. (select("time"): the ordering check reads the
    // instant back from its output vector, so time must be projected.)
    val e = intercept[Throwable] {
      hostileReader("DUPPAGE").load().select(col("time")).collect()
    }
    assert(causeChain(e).contains("out-of-order instant"),
      s"expected the scan-integrity ordering guard, got: ${causeChain(e)}")
  }

  test("scan integrity: time-descending records on an asc request fail") {
    val e = intercept[Throwable] {
      hostileReader("BACKWARDS").load().select(col("time")).collect()
    }
    assert(causeChain(e).contains("out-of-order instant"),
      s"expected the scan-integrity ordering guard, got: ${causeChain(e)}")
  }

  test("scan integrity: row-based (streaming) path catches the same faults") {
    // Micro-batch reads are columnar like batch reads (MicroBatchSpec);
    // the row reader serves the timeless sources, whose pages never
    // repeat a symbol's run. Drive it directly over the DUPPAGE chain
    // so the page walk's row sink is held to the same ordering check.
    import graft.connector._
    val cfg = AlpacaScanConfig(
      endpoint = graft.core.AlpacaOptions.stripApiVersion(AlpacaStubServer.endpoint),
      apiKeyId = "k", apiKeySecret = "s", rateLimitDelaySec = 0.0,
      params = Map("symbols" -> "DUPPAGE", "timeframe" -> "1Hour",
        "start" -> "2021-01-04T00:00:00Z", "end" -> "2021-01-05T00:00:00Z"),
      symbols = Seq("DUPPAGE"),
      startMicros = graft.core.AlpacaOptions.parseIsoMicros("2021-01-04T00:00:00Z").get,
      endMicros = graft.core.AlpacaOptions.parseIsoMicros("2021-01-05T00:00:00Z").get,
      limit = 10000)
    val reader = new AlpacaPartitionReader(cfg, StockBarsDef.versionedPath,
      StockBarsDef.dataKey, StockBarsDef.parser,
      SymbolTimeRangePartition("DUPPAGE", cfg.startMicros, cfg.endMicros),
      StockBarsDef.schema, checkable = true)
    val e = intercept[ScanIntegrityException] {
      while (reader.next()) reader.get()
    }
    assert(e.getMessage.contains("out-of-order instant"))
  }

  test("scan integrity: integrity_checks=false restores permissive ingestion") {
    // documented off-switch for endpoints that legitimately violate
    // ordered delivery — the duplicated page then lands as data
    val df = hostileReader("DUPPAGE").load()
    val n = spark.read.format("Alpaca_Stocks_Bars")
      .options(Map(
        "endpoint" -> AlpacaStubServer.endpoint,
        "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
        "symbols" -> "['DUPPAGE']", "timeframe" -> "1Hour",
        "integrity_checks" -> "false",
        "start" -> "2021-01-04T00:00:00Z", "end" -> "2021-01-05T00:00:00Z"))
      .load().select(col("time")).collect().length
    assert(n == 48, s"expected 24 bars served twice = 48 rows, got $n") // 2 pages x 24 hourly bars
  }

  test("scan integrity: MALFORMED record skip still passes both invariants") {
    // record-LEVEL damage stays permissive (E4): the bad record is
    // counted by both the lex skim and the parse walk (count invariant
    // holds across the skip) and emits nothing (ordering unaffected)
    val rows = hostileReader("MALFORMED").load()
      .select(col("time"), col("close")).collect()
    assert(rows.length == 24, s"expected the 24 well-formed bars, got ${rows.length}")
  }

  test("page with >10x the requested limit is ingested, not truncated") {
    // stub ignores limit=10 and delivers all 144 trades of the day in
    // one page (14.4×); the reader sizes to what arrives
    val df = spark.read.format("Alpaca_Stocks_Trades").options(Map(
      "endpoint" -> AlpacaStubServer.endpoint,
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "symbols" -> "['OVERLIMIT']", "limit" -> "10",
      "start" -> "2021-01-04T00:00:00Z", "end" -> "2021-01-05T00:00:00Z")).load()
    val n = df.count()
    assert(n == 144, s"over-delivered page truncated or dropped: $n")
  }

  test("mid-stream schema drift: extra unknown keys are tolerated (additive)") {
    // DRIFTEXTRA adds unknown scalar, nested-object and array keys to
    // every record from the SECOND page on (the real API adds fields
    // without versioning; the reference's dict access ignores extras,
    // bars.py:199-225). The token walk must skipChildren() past them.
    // limit=7 forces pagination (24 hourly bars → 4 pages, 3 drifted);
    // the un-paginated read of the same symbol returns one un-drifted
    // page — identical parsed rows proves the extras changed nothing.
    def read(extra: (String, String)*) =
      spark.read.format("Alpaca_Stocks_Bars").options(Map(
        "endpoint" -> AlpacaStubServer.endpoint,
        "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
        "symbols" -> "['DRIFTEXTRA']", "timeframe" -> "1Hour",
        "start" -> "2021-01-04T00:00:00Z",
        "end" -> "2021-01-05T00:00:00Z") ++ extra.toMap)
        .load().orderBy("time")
        .select("time", "open", "high", "low", "close", "volume", "trade_count", "vwap")
        .collect().toSeq
    val drifted = read("limit" -> "7")
    val clean = read()
    assert(drifted.size == 24, s"drifted pages lost records: ${drifted.size}")
    assert(drifted == clean, "extra unknown keys changed parsed values")
  }

  test("column pruning does not change which records are skipped (MALFORMED, DRIFTEXTRA)") {
    // collect(), not count(): a count prunes to no columns, which the
    // scan reads as the full schema, so only a projection reaches the
    // pruned decode
    Seq(hostileReader("MALFORMED"), hostileReader("DRIFTEXTRA").option("limit", "7"))
      .foreach { reader =>
        val df = reader.load()
        val counts = df.count() +: Seq(Seq("close"), Seq("symbol"), Seq("time", "volume"))
          .map(cols => df.select(cols.map(col): _*).collect().length.toLong)
        assert(counts == Seq.fill(4)(24L), s"pruned and unpruned reads differ: $counts")
      }
  }

  test("recordsSkipped scan metric counts the malformed-record skips") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def skipped(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
      df.collect()
      new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
        case s: BatchScanExec => s.metrics("recordsSkipped").value
      }
    }
    assert(skipped(hostileReader("MALFORMED").load()) == Seq(1L))
    assert(skipped(barsReader().load()) == Seq(0L))
  }

  test("mid-stream schema drift: missing OPTIONAL key takes its default (subtractive)") {
    // from the second page on, trade records omit the optional `c`
    // (conditions) key entirely; the contract (reference .get default,
    // E2) is conditions = "" for those rows — tolerate-and-default,
    // never malformed-skip. limit=40 → page 1 (40 trades) keeps its
    // conditions, pages 2-4 (104 trades) drift to "".
    val df = spark.read.format("Alpaca_Stocks_Trades").options(Map(
      "endpoint" -> AlpacaStubServer.endpoint,
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "symbols" -> "['DRIFTMISSING']", "limit" -> "40",
      "start" -> "2021-01-04T00:00:00Z", "end" -> "2021-01-05T00:00:00Z")).load()
    val rows = df.orderBy("time").select("conditions").collect().map(_.getString(0))
    assert(rows.length == 144, s"optional-key drift dropped records: ${rows.length}")
    val (page1, drifted) = rows.splitAt(40)
    assert(page1.exists(_.nonEmpty), "fixture page 1 should carry conditions")
    assert(drifted.forall(_ == ""),
      "missing optional key must default to empty conditions, not skip/fail")
  }

  test("empty response (unknown path range) yields empty DataFrame") {
    val df = spark.read.format("Alpaca_Stocks_Bars").options(Map(
      "endpoint" -> AlpacaStubServer.endpoint,
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "symbols" -> "['AAPL']", "timeframe" -> "1Hour",
      "start" -> "2021-01-04T00:00:00Z", "end" -> "2021-01-04T00:00:00Z")).load()
    assert(df.count() == 0)
  }

  test("symbol_batch: identical rows with fewer HTTP round-trips") {
    val syms = "['AAPL','MSFT','GOOG','AMZN','TSLA','NVDA']"
    def scan(extra: (String, String)*) =
      barsReader((Seq("symbols" -> syms) ++ extra): _*).load()
        .orderBy("symbol", "time").collect().toSeq
    val before1 = AlpacaStubServer.requestsServed
    val unbatched = scan()
    val unbatchedReqs = AlpacaStubServer.requestsServed - before1
    val before2 = AlpacaStubServer.requestsServed
    val batched = scan("symbol_batch" -> "6")
    val batchedReqs = AlpacaStubServer.requestsServed - before2
    assert(batched == unbatched && batched.size == 6 * 48)
    // 6 symbols × 1 interval unbatched vs 1 grouped request chain:
    // the combined stream still fits one page (288 rows < limit), so
    // the batched scan is a single HTTP request
    assert(unbatchedReqs >= 6 && batchedReqs < unbatchedReqs,
      s"unbatched=$unbatchedReqs batched=$batchedReqs")
  }

  test("symbol_batch: pages span symbol boundaries (small limit) without loss") {
    val syms = "['AAPL','MSFT','GOOG']"
    // 3 symbols × 48 bars = 144 combined rows; limit 25 → 6 pages, 5 of
    // which straddle a symbol boundary mid-page
    val df = barsReader("symbols" -> syms, "symbol_batch" -> "3",
      "limit" -> "25").load()
    val plain = barsReader("symbols" -> syms).load()
    assert(df.orderBy("symbol", "time").collect().toSeq ==
      plain.orderBy("symbol", "time").collect().toSeq)
  }

  test("symbol_batch validation: non-integer, <1, and cluster_by_symbol conflict") {
    intercept[IllegalArgumentException] {
      barsReader("symbol_batch" -> "many").load()
    }
    intercept[IllegalArgumentException] {
      barsReader("symbol_batch" -> "0").load()
    }
    val ex = intercept[IllegalArgumentException] {
      barsReader("symbol_batch" -> "2", "cluster_by_symbol" -> "true").load()
    }
    assert(ex.getMessage.contains("mutually exclusive"))
  }

  test("symbol_batch composes with fan-out records and timeless sources") {
    def auc(extra: (String, String)*) =
      spark.read.format("Alpaca_Stocks_Auctions").options(Map(
        "endpoint" -> AlpacaStubServer.endpoint,
        "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
        "symbols" -> "['AAPL','MSFT']",
        "start" -> "2021-01-04T00:00:00Z",
        "end" -> "2021-01-16T00:00:00Z") ++ extra.toMap)
        .load().collect().map(_.toString).sorted.toSeq
    assert(auc("symbol_batch" -> "2") == auc(),
      "batched auction fan-out must equal unbatched")

    def snap(extra: (String, String)*) =
      spark.read.format("Alpaca_Stocks_Snapshots").options(Map(
        "endpoint" -> AlpacaStubServer.endpoint,
        "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
        "symbols" -> "['AAPL','MSFT','GOOG','TSLA']") ++ extra.toMap)
        .load().collect().map(_.toString).sorted.toSeq
    assert(snap("symbol_batch" -> "3") == snap(),
      "batched timeless object records must equal unbatched")
    assert(snap().size == 4)
  }

  test("429 honors the server's Retry-After (numeric) and falls back on garbage") {
    // numeric Retry-After: 0 -> immediate retries, success on 3rd try
    val fast = barsReader("symbols" -> "RATELIMIT").load().collect()
    assert(fast.length == 48 * 1, s"RATELIMIT rows: ${fast.length}")
    // garbage Retry-After -> exponential fallback still succeeds; the
    // 0.5s+1s floor proves the fallback actually slept
    val t0 = System.nanoTime()
    val slow = barsReader("symbols" -> "RATELIMITBAD").load().collect()
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(slow.length == 48 * 1)
    assert(elapsedMs >= 1400, s"fallback backoff not applied: ${elapsedMs}ms")
  }

  test("rate_limit_rps: one per-executor budget paces ALL concurrent tasks") {
    // 2 symbols x 2 one-day partitions = 4 requests; at 8 rps the
    // shared pacer forces >= 3 x 125ms of spacing even though the 4
    // tasks run concurrently (rate_limit_delay, being per-task, would
    // sleep ZERO here - one page per task)
    def trades(extra: (String, String)*) =
      spark.read.format("Alpaca_Stocks_Trades").options(Map(
        "endpoint" -> AlpacaStubServer.endpoint,
        "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
        "symbols" -> "['AAPL','MSFT']",
        "start" -> "2021-01-04T00:00:00Z",
        "end" -> "2021-01-06T00:00:00Z") ++ extra.toMap)
    val rows = trades().load().collect()
    val t0 = System.nanoTime()
    val paced = trades("rate_limit_rps" -> "8").load().collect()
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(paced.sorted(Ordering.by[org.apache.spark.sql.Row, String](_.toString)).map(_.toString).toSeq ==
      rows.sorted(Ordering.by[org.apache.spark.sql.Row, String](_.toString)).map(_.toString).toSeq)
    assert(elapsedMs >= 300, s"pacing not applied: ${elapsedMs}ms for 4 requests at 8rps")
    intercept[IllegalArgumentException] {
      trades("rate_limit_rps" -> "-1").load()
    }
  }

  test("runtime filtering: DPP prunes symbol partitions — pruned symbols never fetched") {
    import org.apache.spark.sql.functions.{expr, count => cnt, lit}
    // fresh symbols so per-symbol stub counters start at 0 for this test
    val scan = spark.read.format("Alpaca_Stocks_Bars").options(Map(
      "endpoint" -> AlpacaStubServer.endpoint,
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "symbols" -> "['PRUNEA','PRUNEB','PRUNEC','PRUNEX']",
      "timeframe" -> "1Hour",
      "start" -> "2021-01-04T00:00:00Z",
      "end" -> "2021-01-06T00:00:00Z")).load()
    val dim = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .filter(col("r_regionkey") <= 1)
      .select(expr("CASE r_regionkey WHEN 0 THEN 'PRUNEA' ELSE 'PRUNEC' END")
        .as("symbol"))
    val joined = scan.join(dim, Seq("symbol"))
      .groupBy(col("symbol")).agg(cnt(lit(1)).as("n"))
    val out = joined.collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(out.toSeq == Seq(("PRUNEA", 48L), ("PRUNEC", 48L)))
    // the injected runtime filter is visible in the executed plan…
    val planStr = joined.queryExecution.executedPlan.toString.toLowerCase
    assert(planStr.contains("dynamicpruning"),
      s"expected a DPP runtime filter on the scan, plan:\n$planStr")
    // …and the NEGATIVE fact holds: pruned symbols issued zero HTTP
    // requests, kept symbols actually fetched
    assert(AlpacaStubServer.symbolRequests("PRUNEA") > 0)
    assert(AlpacaStubServer.symbolRequests("PRUNEC") > 0)
    assert(AlpacaStubServer.symbolRequests("PRUNEB") == 0,
      "runtime-pruned symbol PRUNEB was fetched")
    assert(AlpacaStubServer.symbolRequests("PRUNEX") == 0,
      "runtime-pruned symbol PRUNEX was fetched")
  }

  test("runtime filtering: grouped (symbol_batch) partitions survive if any member survives") {
    import graft.connector.{AlpacaScan, AlpacaScanConfig, StockBarsDef, SymbolTimeRangePartition}
    import org.apache.spark.sql.sources.{In => SIn, EqualTo => SEq}
    val cfg = AlpacaScanConfig(
      endpoint = AlpacaStubServer.endpoint, apiKeyId = "k", apiKeySecret = "s",
      rateLimitDelaySec = 0.0, params = Map("timeframe" -> "1Hour"),
      symbols = Seq("A", "B", "C", "D"),
      startMicros = 0L, endMicros = 3600L * 1000000L, limit = 10000,
      symbolBatch = 2)
    val scan = AlpacaScan(StockBarsDef, cfg)
    assert(scan.planInputPartitions().length == 2) // (A,B) and (C,D)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](SIn("symbol", Array("B"))))
    val kept = scan.planInputPartitions()
      .collect { case SymbolTimeRangePartition(g, _, _) => g }
    assert(kept.toSeq == Seq("A,B"), "group containing B must survive")
    scan.filter(Array[org.apache.spark.sql.sources.Filter](SEq("symbol", "Z")))
    assert(scan.planInputPartitions().isEmpty,
      "no group contains Z — everything prunes")
  }
}
