package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{AlpacaOptions, ApiParam, Timeframe}

/** Option-validation matrix (SURVEY §2.5 V1-V8). */
class OptionsSpec extends AnyFunSuite {

  private val barsParams = Seq(
    ApiParam("symbols", true), ApiParam("start", false), ApiParam("end", false),
    ApiParam("limit", false), ApiParam("timeframe", true), ApiParam("sort", false))

  private val good = Map(
    "symbols" -> "['AAPL','MSFT']",
    "start" -> "2021-01-01T00:00:00Z",
    "end" -> "2021-01-02T00:00:00Z",
    "timeframe" -> "1Day")

  test("V1: missing required option fails") {
    val e = intercept[IllegalArgumentException] {
      AlpacaOptions.validateParams(good - "symbols", barsParams)
    }
    assert(e.getMessage.contains("symbols"))
  }

  test("V2: symbols accepts python-literal, JSON and CSV forms") {
    assert(AlpacaOptions.parseSymbols("['AAPL', 'MSFT']") == Seq("AAPL", "MSFT"))
    assert(AlpacaOptions.parseSymbols("""["AAPL","MSFT"]""") == Seq("AAPL", "MSFT"))
    assert(AlpacaOptions.parseSymbols("AAPL,MSFT") == Seq("AAPL", "MSFT"))
    assert(AlpacaOptions.parseSymbols("('AAPL',)") == Seq("AAPL"))
    assert(AlpacaOptions.parseSymbols("[]").isEmpty)
    intercept[IllegalArgumentException] {
      AlpacaOptions.validateParams(good + ("symbols" -> "[]"), barsParams)
    }
  }

  test("V3: invalid ISO datetimes and start>end fail") {
    intercept[IllegalArgumentException] {
      AlpacaOptions.validateParams(good + ("start" -> "not-a-date"), barsParams)
    }
    intercept[IllegalArgumentException] {
      AlpacaOptions.validateParams(
        good + ("start" -> "2022-01-01") + ("end" -> "2021-01-01"), barsParams)
    }
    // absent start is a failure too (the reference parses "" and throws)
    intercept[IllegalArgumentException] {
      AlpacaOptions.validateParams(good - "start", barsParams)
    }
  }

  test("ISO parse: offsets, Z, naive, date-only, sub-µs truncation") {
    val us = AlpacaOptions.parseIsoMicros _
    assert(us("2021-01-01T00:00:00Z") == us("2021-01-01T00:00:00+00:00"))
    assert(us("2021-01-01T01:00:00+01:00") == us("2021-01-01T00:00:00Z"))
    assert(us("2021-01-01T00:00:00") == us("2021-01-01Z").orElse(us("2021-01-01")))
    assert(us("2021-01-01T00:00:00.123456789Z").get ==
      us("2021-01-01T00:00:00.123456Z").get) // ns truncated to µs
    assert(us("garbage").isEmpty)
  }

  test("ISO fast paths agree with java.time across a generated sweep") {
    import java.time._
    import java.time.format.DateTimeFormatter
    val referenceFmt = DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx").withZone(ZoneOffset.UTC)
    // deterministic pseudo-random micros sweep incl. edge instants
    val edges = Seq(0L, -1L, 1L, 86399999999L, -62135596800000000L + 86400000000L,
      253402300799999999L, 951782400000000L /* 2000-02-29 */)
    val rng = new scala.util.Random(42)
    val samples = edges ++ Seq.fill(2000)(
      (rng.nextLong() % 4102444800L) * 1000000L + rng.nextInt(1000000))
    samples.foreach { us =>
      val mine = AlpacaOptions.microsToIso(us)
      val secs = Math.floorDiv(us, 1000000L)
      val ref = referenceFmt.format(Instant.ofEpochSecond(secs,
        Math.floorMod(us, 1000000L) * 1000L))
      assert(mine == ref, s"format mismatch at $us: $mine vs $ref")
      // round-trip through the fast parse
      assert(AlpacaOptions.parseIsoMicros(mine).contains(us), s"roundtrip $mine")
      // the Z form parses identically
      assert(AlpacaOptions.parseIsoMicros(mine.replace("+00:00", "Z")).contains(us))
      // so does the char slice the record walk reads from its JSON parser
      assert(AlpacaOptions.isoMicrosFast(("[\"" + mine + "\"]").toCharArray, 2, mine.length) == us)
    }
    // an offset other than UTC is not a fast shape
    assert(AlpacaOptions.isoMicrosFast("2021-01-01T00:00:00+01:00".toCharArray, 0, 25) ==
      AlpacaOptions.NotFast)
    // fractional widths 1..6 + no-fraction forms
    (1 to 6).foreach { w =>
      val frac = "123456".take(w)
      val expect = ("123456".take(w) + "000000").take(6).toLong
      assert(AlpacaOptions.parseIsoMicros(s"2021-03-04T05:06:07.${frac}Z").get ==
        AlpacaOptions.parseIsoMicros("2021-03-04T05:06:07Z").get + expect)
    }
    // shapes the fast path must reject but the fallback handles or rejects
    assert(AlpacaOptions.parseIsoMicros("2021-02-30T00:00:00Z").isEmpty) // bad date
    assert(AlpacaOptions.parseIsoMicros("2021-01-01T00:00:00+01:00").get ==
      AlpacaOptions.parseIsoMicros("2020-12-31T23:00:00Z").get) // offset via fallback
    // dot-with-no-digits is rejected by the fast path and lands in the
    // java.time fallback (which happens to accept it) — the fast path
    // must not change the answer, whatever the fallback says
    assert(AlpacaOptions.parseIsoMicros("2021-01-01T00:00:00.Z") ==
      AlpacaOptions.parseIsoMicros("2021-01-01T00:00:00Z") ||
      AlpacaOptions.parseIsoMicros("2021-01-01T00:00:00.Z").isEmpty)
  }

  test("V4: timeframe grammar with unit aliases and trading-calendar approximations") {
    val M = 60L * 1000000L
    assert(Timeframe.parseMicros("5Min") == 5 * M)
    assert(Timeframe.parseMicros("15min") == 15 * M)
    assert(Timeframe.parseMicros("2T") == 2 * M)
    assert(Timeframe.parseMicros("3Hours") == 3 * 60 * M)
    assert(Timeframe.parseMicros("1Day") == 24 * 60 * M)
    assert(Timeframe.parseMicros("1Week") == 5 * 24 * 60 * M) // 5 trading days
    assert(Timeframe.parseMicros("2Month") == 2 * 20 * 24 * 60 * M) // 20 trading days
    intercept[IllegalArgumentException](Timeframe.parseMicros("Day"))
    intercept[IllegalArgumentException](Timeframe.parseMicros("1Fortnight"))
  }

  test("V8: endpoint config requires API keys; defaults applied") {
    val cfg = AlpacaOptions.endpointConfig(Map(
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s"))
    assert(cfg.endpoint == "https://data.alpaca.markets/v2")
    assert(cfg.rateLimitDelaySec == 0.0)
    intercept[IllegalArgumentException] {
      AlpacaOptions.endpointConfig(Map("APCA-API-KEY-ID" -> "k"))
    }
  }

  test("timeout/retries: the reference's documented-but-unimplemented globals") {
    // defaults mirror the reference's hardcoded values
    val cfg = AlpacaOptions.endpointConfig(Map(
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s"))
    assert(cfg.timeoutSec == 30.0 && cfg.maxRetries == 3)
    // explicit values parse (fractional timeout allowed, 0 retries allowed)
    val cfg2 = AlpacaOptions.endpointConfig(Map(
      "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s",
      "timeout" -> "2.5", "retries" -> "0"))
    assert(cfg2.timeoutSec == 2.5 && cfg2.maxRetries == 0)
    // invalid values fail at load-time with option-named messages
    for (bad <- Seq("timeout" -> "0", "timeout" -> "-1", "timeout" -> "fast",
        "retries" -> "-1", "retries" -> "many")) {
      val e = intercept[IllegalArgumentException] {
        AlpacaOptions.endpointConfig(Map(
          "APCA-API-KEY-ID" -> "k", "APCA-API-SECRET-KEY" -> "s", bad))
      }
      assert(e.getMessage.contains(bad._1), s"message for $bad: ${e.getMessage}")
    }
    // both are known config options: no unknown-option path involved
    assert(AlpacaOptions.ConfigOptionNames.contains("timeout"))
    assert(AlpacaOptions.ConfigOptionNames.contains("retries"))
  }

  test("limit clamps to the API page-size maximum; non-positive fails") {
    assert(AlpacaOptions.clampLimit(1) == 1)
    assert(AlpacaOptions.clampLimit(10000) == 10000)
    assert(AlpacaOptions.clampLimit(10001) == 10000) // warn + clamp
    assert(AlpacaOptions.clampLimit(Int.MaxValue) == 10000)
    intercept[IllegalArgumentException](AlpacaOptions.clampLimit(0))
    intercept[IllegalArgumentException](AlpacaOptions.clampLimit(-5))
  }

  test("per-source API version: endpoint base strips one version segment") {
    import graft.connector.{CryptoBarsDef, StockBarsDef}
    assert(AlpacaOptions.stripApiVersion("https://data.alpaca.markets/v2") ==
      "https://data.alpaca.markets")
    assert(AlpacaOptions.stripApiVersion("https://data.alpaca.markets/v1beta3/") ==
      "https://data.alpaca.markets")
    // no version suffix (proxy base) passes through untouched
    assert(AlpacaOptions.stripApiVersion("http://proxy.internal:8080/alpaca") ==
      "http://proxy.internal:8080/alpaca")
    // stocks stay under /v2, crypto under /v1beta3 (Alpaca crypto API)
    assert(StockBarsDef.versionedPath == Seq("v2", "stocks", "bars"))
    assert(CryptoBarsDef.versionedPath == Seq("v1beta3", "crypto", "us", "bars"))
  }

  test("meta sources: enum validation + path/query derivation") {
    import graft.connector.{MetaConditionsDef, MetaExchangesDef}
    intercept[IllegalArgumentException] {
      MetaConditionsDef.validate(Map("condition_type" -> "auction"))
    }
    intercept[IllegalArgumentException] {
      MetaConditionsDef.validate(Map("tape" -> "Z"))
    }
    MetaConditionsDef.validate(Map.empty) // defaults trade/A are valid
    assert(MetaExchangesDef.path(Map.empty) ==
      Seq("v2", "stocks", "meta", "exchanges"))
    assert(MetaConditionsDef.path(Map("condition_type" -> "quote")) ==
      Seq("v2", "stocks", "meta", "conditions", "quote"))
    assert(MetaConditionsDef.query(Map("tape" -> "B")) == Seq("tape" -> "B"))
    assert(MetaConditionsDef.contextColumns(Map.empty) == Seq("trade", "A"))
  }

  test("screener sources: top/by validation, symbol-less market-wide plan") {
    import graft.connector.{MostActivesDef, MoversGainersDef}
    intercept[IllegalArgumentException] {
      MostActivesDef.extraValidate(Map("top" -> "0"))
    }
    intercept[IllegalArgumentException] {
      MostActivesDef.extraValidate(Map("top" -> "101"))
    }
    intercept[IllegalArgumentException] {
      MostActivesDef.extraValidate(Map("by" -> "spread"))
    }
    MostActivesDef.extraValidate(Map("top" -> "10", "by" -> "trades"))
    assert(MostActivesDef.timeless && MoversGainersDef.timeless)
    assert(MostActivesDef.versionedPath ==
      Seq("v1beta1", "screener", "stocks", "most-actives"))
    // the movers pair shares one endpoint, split by data key
    assert(MoversGainersDef.versionedPath ==
      Seq("v1beta1", "screener", "stocks", "movers"))
    assert(MoversGainersDef.dataKey == "gainers")
  }
}
