package graft

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BarParser, CorporateActionParser, TradeParser, VectorWriteSupport}

/** Golden-tuple parser tests mirroring the reference's fixture corpus
  * (`tests/fixtures/mock_responses.py`, parsers `bars.py:199-225`,
  * `stocks/trades.py:113-140`, `corporate_actions.py:138-175`):
  * exact parsed values for the documented records, including the
  * 64-bit large-value cases (`tests/unit/test_schema_large_values.py`). */
class ParserGoldenSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def js(s: String) = mapper.readTree(s)

  private val T0 = 1609493400000000L // 2021-01-01T09:30:00Z in µs

  test("bar record golden tuple (MOCK_BARS_RESPONSE first record)") {
    val row = BarParser.parse("AAPL", js(
      """{"t": "2021-01-01T09:30:00Z", "o": 130.0, "h": 132.0, "l": 129.0,
        |"c": 131.5, "v": 1000000, "n": 5000, "vw": 131.0}""".stripMargin))
    assert(row.getUTF8String(0).toString == "AAPL")
    assert(row.getLong(1) == T0)
    assert(row.getDouble(2) == 130.0 && row.getDouble(3) == 132.0)
    assert(row.getDouble(4) == 129.0 && row.getDouble(5) == 131.5)
    assert(row.getLong(6) == 1000000L && row.getLong(7) == 5000L)
    assert(row.getDouble(8) == 131.0)
  }

  test("bar 64-bit large values survive (volume/count > INT32 max)") {
    val row = BarParser.parse("TSLA", js(
      """{"t": "2021-01-01T09:30:00Z", "o": 1.0, "h": 1.0, "l": 1.0,
        |"c": 1.0, "v": 3000000000, "n": 2147483648, "vw": 16777217.0}""".stripMargin))
    assert(row.getLong(6) == 3000000000L)
    assert(row.getLong(7) == 2147483648L)
    assert(row.getDouble(8) == 16777217.0) // 2^24+1: exact in float64
  }

  test("bar malformed record (missing h/l/c/v/n/vw) throws for skip-and-log") {
    intercept[IllegalArgumentException] {
      BarParser.parse("AAPL", js("""{"t": "2021-01-01T09:30:00Z", "o": 130.0}"""))
    }
  }

  test("trade golden tuples incl. conditions join (MOCK_TRADES_RESPONSE)") {
    val r1 = TradeParser.parse("AAPL", js(
      """{"t": "2021-01-01T09:30:00Z", "x": "V", "p": 131.0, "s": 100,
        |"c": [], "i": 12345, "z": "C"}""".stripMargin))
    assert(r1.getUTF8String(0).toString == "AAPL")
    assert(r1.getLong(1) == T0)
    assert(r1.getUTF8String(2).toString == "V")
    assert(r1.getDouble(3) == 131.0 && r1.getLong(4) == 100L)
    assert(r1.getUTF8String(5).toString == "") // empty conditions list
    assert(r1.getLong(6) == 12345L && r1.getUTF8String(7).toString == "C")

    val r2 = TradeParser.parse("AAPL", js(
      """{"t": "2021-01-01T09:30:01Z", "x": "V", "p": 131.5, "s": 200,
        |"c": ["@", "I"], "i": 12346, "z": "C"}""".stripMargin))
    assert(r2.getUTF8String(5).toString == "@,I") // ",".join(c)

    // absent "c" key defaults to "" (record.get("c", []))
    val r3 = TradeParser.parse("AAPL", js(
      """{"t": "2021-01-01T09:30:02Z", "x": "V", "p": 1.0, "s": 1,
        |"i": 1, "z": "C"}""".stripMargin))
    assert(r3.getUTF8String(5).toString == "")
  }

  test("corporate action golden tuples: dividend, split, None dates, defaults") {
    val div = CorporateActionParser.parse("AAPL", js(
      """{"ex_date": "2021-02-05T00:00:00Z", "record_date": "2021-02-08T00:00:00Z",
        |"payable_date": "2021-02-11T00:00:00Z", "type": "dividend",
        |"amount": 0.205, "ratio": 1.0, "new_symbol": "", "old_symbol": "AAPL"}""".stripMargin))
    assert(div.getUTF8String(4).toString == "dividend")
    assert(div.getDouble(5) == 0.205 && div.getDouble(6) == 1.0)
    assert(!div.isNullAt(1) && !div.isNullAt(2) && !div.isNullAt(3))

    val split = CorporateActionParser.parse("AAPL", js(
      """{"ex_date": "2021-08-30T00:00:00Z", "type": "split",
        |"amount": 0.0, "ratio": 4.0, "new_symbol": "AAPL", "old_symbol": "AAPL"}""".stripMargin))
    assert(split.isNullAt(2) && split.isNullAt(3)) // absent dates → null
    assert(split.getDouble(6) == 4.0)

    // all-defaults record: type "", amount 0.0, ratio 0.0 (the CODE's
    // default — not the 1.0 the reference's schema comment claims)
    val bare = CorporateActionParser.parse("X", js("""{}"""))
    assert(bare.getUTF8String(4).toString == "")
    assert(bare.getDouble(5) == 0.0 && bare.getDouble(6) == 0.0)
    assert(bare.getUTF8String(7).toString == "" && bare.getUTF8String(8).toString == "")
  }

  test("option trade/quote golden tuples: scalar condition, absent-key default, malformed skip") {
    import graft.core.{OptionQuoteParser, OptionTradeParser}
    val t1 = OptionTradeParser.parse("AAPL210115C00150000", js(
      """{"t": "2021-01-01T09:30:00Z", "x": "A", "p": 2.25, "s": 3, "c": "I"}"""))
    assert(t1.getUTF8String(0).toString == "AAPL210115C00150000")
    assert(t1.getLong(1) == T0)
    assert(t1.getUTF8String(2).toString == "A")
    assert(t1.getDouble(3) == 2.25 && t1.getLong(4) == 3L)
    assert(t1.getUTF8String(5).toString == "I")
    // absent scalar `c` → empty string (the API's optional condition)
    val t2 = OptionTradeParser.parse("X", js(
      """{"t": "2021-01-01T09:30:00Z", "x": "C", "p": 1.0, "s": 1}"""))
    assert(t2.getUTF8String(5).toString == "")
    // missing required price → skip-and-log contract
    intercept[IllegalArgumentException] {
      OptionTradeParser.parse("X", js(
        """{"t": "2021-01-01T09:30:00Z", "x": "C", "s": 1}"""))
    }
    val q = OptionQuoteParser.parse("AAPL210115C00150000", js(
      """{"t": "2021-01-01T09:30:00Z", "ax": "A", "ap": 2.75, "as": 7,
        |"bx": "B", "bp": 2.25, "bs": 4}""".stripMargin))
    assert(q.getDouble(3) == 2.75 && q.getLong(4) == 7L)
    assert(q.getDouble(6) == 2.25 && q.getLong(7) == 4L)
    assert(q.getUTF8String(8).toString == "") // absent condition
  }

  test("timestamps with offsets and sub-µs precision normalize to UTC µs") {
    val row = BarParser.parse("AAPL", js(
      """{"t": "2021-01-01T10:30:00.123456789+01:00", "o": 1.0, "h": 1.0,
        |"l": 1.0, "c": 1.0, "v": 1, "n": 1, "vw": 1.0}""".stripMargin))
    assert(row.getLong(1) == T0 + 123456L) // offset folded, ns truncated
  }

  test("news record golden: symbols CSV, nullable updated_at, defaults") {
    import graft.core.NewsParser
    val full = NewsParser.parse("AAPL", js(
      """{"id": 24843171, "headline": "Apple Beats Estimates",
        |"author": "B. Rivera", "created_at": "2021-01-01T09:30:00Z",
        |"updated_at": "2021-01-01T09:40:00Z", "summary": "A summary.",
        |"content": "<p>Body</p>", "symbols": ["AAPL", "MSFT"],
        |"source": "benzinga", "url": "https://example.com/n/1",
        |"images": [{"size": "large", "url": "x"}]}""".stripMargin))
    assert(full.getUTF8String(0).toString == "AAPL")
    assert(full.getLong(1) == T0)
    assert(full.getLong(2) == T0 + 600000000L)
    assert(full.getLong(3) == 24843171L)
    assert(full.getUTF8String(4).toString == "Apple Beats Estimates")
    assert(full.getUTF8String(8).toString == "AAPL,MSFT") // array -> CSV
    // minimal record: absent updated_at -> NULL, absent text -> ""
    val min = NewsParser.parse("AAPL", js(
      """{"id": 1, "headline": "H", "created_at": "2021-01-01T09:30:00Z"}"""))
    assert(min.isNullAt(2))
    assert(min.getUTF8String(6).toString == "")
    // malformed: missing created_at throws for warn-and-skip
    intercept[IllegalArgumentException] {
      NewsParser.parse("AAPL", js("""{"id": 2, "headline": "H"}"""))
    }
  }

  test("auction daily record fans out: one row per print, tagged O/C") {
    import graft.core.AuctionParser
    val rows = AuctionParser.parseMulti("AAPL", js(
      """{"d": "2021-01-04",
        |"o": [{"t": "2021-01-04T14:30:00Z", "x": "N", "p": 129.5, "s": 5000, "c": "O"},
        |      {"t": "2021-01-04T15:00:00Z", "x": "N", "p": 129.75, "s": 1000, "c": "6"}],
        |"c": [{"t": "2021-01-04T21:00:00Z", "x": "Q", "p": 130.0, "s": 8000, "c": "M"}]}""".stripMargin))
    assert(rows.size == 3)
    val dateUs = 1609718400000000L // 2021-01-04T00:00:00Z
    val open = rows.head
    assert(open.getUTF8String(0).toString == "AAPL")
    assert(open.getLong(1) == dateUs)
    assert(open.getUTF8String(2).toString == "O")
    assert(open.getLong(3) == dateUs + 14L * 3600000000L + 1800000000L)
    assert(open.getUTF8String(4).toString == "N")
    assert(open.getDouble(5) == 129.5 && open.getLong(6) == 5000L)
    assert(open.getUTF8String(7).toString == "O")
    val close = rows.last
    assert(close.getUTF8String(2).toString == "C")
    assert(close.getDouble(5) == 130.0 && close.getLong(6) == 8000L)
    assert(close.getUTF8String(7).toString == "M")
  }

  test("auction half-day: absent c key and empty o array both parse") {
    import graft.core.AuctionParser
    val halfDay = AuctionParser.parseMulti("AAPL", js(
      """{"d": "2021-01-08", "o": [{"t": "2021-01-08T14:30:00Z", "x": "Q", "p": 1.0, "s": 1}]}"""))
    assert(halfDay.size == 1 && halfDay.head.getUTF8String(2).toString == "O")
    assert(halfDay.head.getUTF8String(7).toString == "") // condition absent -> ""
    val halted = AuctionParser.parseMulti("AAPL", js(
      """{"d": "2021-01-08", "o": [], "c": [{"t": "2021-01-08T21:00:00Z", "x": "Q", "p": 1.0, "s": 1}]}"""))
    assert(halted.size == 1 && halted.head.getUTF8String(2).toString == "C")
  }

  test("auction malformed day (bad print) throws BEFORE any row is emitted") {
    import graft.core.AuctionParser
    // second print lacks price: the whole daily record must fail as a
    // unit (parseStreamMulti atomic-skip contract), not emit the first
    intercept[IllegalArgumentException] {
      AuctionParser.parseMulti("AAPL", js(
        """{"d": "2021-01-04",
          |"o": [{"t": "2021-01-04T14:30:00Z", "x": "N", "p": 129.5, "s": 5000},
          |      {"t": "2021-01-04T15:00:00Z", "x": "N", "s": 1000}]}""".stripMargin))
    }
    intercept[IllegalArgumentException] { // missing d
      AuctionParser.parseMulti("AAPL", js("""{"o": []}"""))
    }
  }

  test("snapshot record: nested sections flatten to one wide row; absent section nulls") {
    import graft.core.SnapshotParser
    val row = SnapshotParser.parse("AAPL", js(
      """{"latestTrade": {"t": "2021-01-04T23:50:00Z", "x": "V", "p": 131.25, "s": 400, "c": ["@"], "i": 99, "z": "C"},
        |"latestQuote": {"t": "2021-01-04T23:57:00Z", "ax": "Q", "ap": 131.5, "as": 300, "bx": "N", "bp": 131.0, "bs": 200, "c": ["R"], "z": "C"},
        |"minuteBar": {"t": "2021-01-04T23:59:00Z", "o": 131.0, "h": 131.5, "l": 130.75, "c": 131.25, "v": 5000, "n": 42, "vw": 131.1},
        |"dailyBar": {"t": "2021-01-04T00:00:00Z", "o": 130.0, "h": 132.0, "l": 129.5, "c": 131.25, "v": 900000, "n": 7000, "vw": 130.9}}""".stripMargin))
    assert(row.getUTF8String(0).toString == "AAPL")
    assert(row.getDouble(2) == 131.25 && row.getLong(3) == 400L)
    assert(row.getDouble(5) == 131.0 && row.getLong(6) == 200L) // bid
    assert(row.getDouble(7) == 131.5 && row.getLong(8) == 300L) // ask
    assert(row.getDouble(10) == 131.25 && row.getLong(11) == 5000L)
    assert(row.getDouble(13) == 130.0 && row.getDouble(16) == 131.25)
    assert(row.isNullAt(18)) // no prevDailyBar -> null close
  }

  test("snapshot malformed section fails the record; absent sections do not") {
    import graft.core.SnapshotParser
    intercept[IllegalArgumentException] { // present but broken latestTrade
      SnapshotParser.parse("AAPL", js("""{"latestTrade": {"t": "2021-01-04T23:50:00Z"}}"""))
    }
    val empty = SnapshotParser.parse("AAPL", js("""{}"""))
    (1 to 18).foreach(i => assert(empty.isNullAt(i)))
  }

  test("screener records carry their own symbol; partition symbol ignored") {
    import graft.core.{MostActivesParser, MoverParser}
    val a = MostActivesParser.parse("", js(
      """{"symbol": "TSLA", "volume": 10000000, "trade_count": 80000}"""))
    assert(a.getUTF8String(0).toString == "TSLA")
    assert(a.getLong(1) == 10000000L && a.getLong(2) == 80000L)
    val m = MoverParser.parse("ignored", js(
      """{"symbol": "NVDA", "percent_change": 4.5, "change": 1.75, "price": 120.25}"""))
    assert(m.getUTF8String(0).toString == "NVDA")
    assert(m.getDouble(1) == 4.5 && m.getDouble(2) == 1.75 && m.getDouble(3) == 120.25)
    intercept[IllegalArgumentException] { // symbol is required IN the record
      MostActivesParser.parse("", js("""{"volume": 1, "trade_count": 1}"""))
    }
  }

  test("option snapshot: greeks/IV flatten; absent sections null; broken section fails") {
    import graft.core.OptionSnapshotParser
    val row = OptionSnapshotParser.parse("AAPL240119C00150000", js(
      """{"impliedVolatility": 0.25,
        |"greeks": {"delta": 0.5, "gamma": 0.03125, "theta": -0.0625, "vega": 0.125, "rho": 0.015625},
        |"latestQuote": {"bp": 2.25, "ap": 2.75},
        |"latestTrade": {"p": 2.5, "s": 3}}""".stripMargin))
    assert(row.getDouble(1) == 0.25 && row.getDouble(2) == 0.5)
    assert(row.getDouble(3) == 0.03125 && row.getDouble(4) == -0.0625)
    assert(row.getDouble(7) == 2.25 && row.getDouble(8) == 2.75)
    assert(row.getDouble(9) == 2.5 && row.getLong(10) == 3L)
    val newListing = OptionSnapshotParser.parse("X",
      js("""{"latestQuote": {"bp": 1.0, "ap": 1.5}}"""))
    (1 to 6).foreach(i => assert(newListing.isNullAt(i))) // iv + all greeks
    assert(newListing.isNullAt(9) && newListing.isNullAt(10))
    intercept[IllegalArgumentException] { // present-but-broken greeks
      OptionSnapshotParser.parse("X", js("""{"greeks": {"delta": 0.5}}"""))
    }
  }

  test("crypto snapshot: fractional sizes flatten; keyed-envelope record shape") {
    import graft.core.CryptoSnapshotParser
    val row = CryptoSnapshotParser.parse("BTC/USD", js(
      """{"latestTrade": {"t": "2021-01-04T23:55:00Z", "p": 29000.25, "s": 0.75, "i": 1, "tks": "B"},
        |"latestQuote": {"t": "2021-01-04T23:58:00Z", "bp": 29000.0, "bs": 0.5, "ap": 29000.5, "as": 0.25},
        |"minuteBar": {"t": "2021-01-04T23:59:00Z", "o": 1.0, "h": 1.0, "l": 1.0, "c": 29000.25, "v": 10, "n": 1, "vw": 1.0},
        |"dailyBar": {"t": "2021-01-04T00:00:00Z", "o": 28000.0, "h": 29500.0, "l": 27900.0, "c": 29000.0, "v": 999, "n": 9, "vw": 1.0}}""".stripMargin))
    assert(row.getUTF8String(0).toString == "BTC/USD")
    assert(row.getDouble(2) == 29000.25 && row.getDouble(3) == 0.75) // fractional size
    assert(row.getDouble(5) == 29000.0 && row.getDouble(6) == 0.5)
    assert(row.getDouble(16) == 29000.0 && row.getLong(17) == 999L)
    assert(row.isNullAt(18)) // no prevDailyBar
  }

  private def vectors(schema: StructType): Array[WritableColumnVector] =
    OnHeapColumnVector.allocateColumns(4, schema).asInstanceOf[Array[WritableColumnVector]]

  test("stock quote golden tuple: conditions CSV, integer sizes") {
    import graft.core.StockQuoteParser
    val q = StockQuoteParser.parse("AAPL", js(
      """{"t": "2021-01-01T09:30:00Z", "ax": "Q", "ap": 131.5, "as": 3,
        |"bx": "N", "bp": 131.0, "bs": 2, "c": ["R", "W"], "z": "C"}""".stripMargin))
    assert(q.getUTF8String(0).toString == "AAPL" && q.getLong(1) == T0)
    assert(q.getUTF8String(2).toString == "Q")
    assert(q.getDouble(3) == 131.5 && q.getLong(4) == 3L)
    assert(q.getUTF8String(5).toString == "N")
    assert(q.getDouble(6) == 131.0 && q.getLong(7) == 2L)
    assert(q.getUTF8String(8).toString == "R,W" && q.getUTF8String(9).toString == "C")
    val bare = StockQuoteParser.parse("AAPL", js(
      """{"t": "2021-01-01T09:30:00Z", "ax": "Q", "ap": 1.0, "as": 1,
        |"bx": "N", "bp": 1.0, "bs": 1, "z": "C"}""".stripMargin))
    assert(bare.getUTF8String(8).toString == "") // absent c
    intercept[IllegalArgumentException] { // missing tape
      StockQuoteParser.parse("AAPL", js(
        """{"t": "2021-01-01T09:30:00Z", "ax": "Q", "ap": 1.0, "as": 1,
          |"bx": "N", "bp": 1.0, "bs": 1}""".stripMargin))
    }
  }

  test("crypto trade/quote golden tuples: fractional sizes, taker side") {
    import graft.core.{CryptoQuoteParser, CryptoTradeParser}
    val t = CryptoTradeParser.parse("BTC/USD", js(
      """{"t": "2021-01-01T09:30:00Z", "p": 29000.25, "s": 0.125, "i": 42, "tks": "S"}"""))
    assert(t.getUTF8String(0).toString == "BTC/USD" && t.getLong(1) == T0)
    assert(t.getDouble(2) == 29000.25 && t.getDouble(3) == 0.125)
    assert(t.getLong(4) == 42L && t.getUTF8String(5).toString == "S")
    intercept[IllegalArgumentException] { // missing taker side
      CryptoTradeParser.parse("BTC/USD", js(
        """{"t": "2021-01-01T09:30:00Z", "p": 1.0, "s": 1.0, "i": 1}"""))
    }
    val q = CryptoQuoteParser.parse("ETH/USD", js(
      """{"t": "2021-01-01T09:30:00Z", "bp": 730.5, "bs": 1.5, "ap": 731.0, "as": 0.25}"""))
    assert(q.getUTF8String(0).toString == "ETH/USD" && q.getLong(1) == T0)
    assert(q.getDouble(2) == 730.5 && q.getDouble(3) == 1.5)
    assert(q.getDouble(4) == 731.0 && q.getDouble(5) == 0.25)
    intercept[IllegalArgumentException] { // null reads as absent
      CryptoQuoteParser.parse("ETH/USD", js(
        """{"t": "2021-01-01T09:30:00Z", "bp": 1.0, "bs": 1.0, "ap": null, "as": 1.0}"""))
    }
  }

  test("pruned projection: parseIntoVectors writes only the mapped fields") {
    val bar = js("""{"t": "2021-01-01T09:30:00Z", "o": 1.0, "h": 2.0, "l": 0.5,
      |"c": 1.5, "v": 10, "n": 3, "vw": 1.25}""".stripMargin).traverse()
    bar.nextToken()
    // output = (close, time): every other bar field maps to -1
    val barVecs = vectors(StructType.fromDDL("close DOUBLE, time TIMESTAMP"))
    BarParser.parseIntoVectors(UTF8String.fromString("AAPL"), bar, barVecs,
      Array(-1, 1, -1, -1, -1, 0, -1, -1, -1), 2)
    assert(barVecs(0).getDouble(2) == 1.5 && barVecs(1).getLong(2) == T0)
    assert(bar.currentToken() == JsonToken.END_OBJECT)
    // string fields under pruning: only conditions survives
    val trade = js("""{"t": "2021-01-01T09:30:00Z", "x": "V", "p": 1.0, "s": 1,
      |"c": ["@", "I"], "i": 1, "z": "C"}""".stripMargin).traverse()
    trade.nextToken()
    val tradeVecs = vectors(StructType.fromDDL("conditions STRING"))
    TradeParser.parseIntoVectors(UTF8String.fromString("AAPL"), trade, tradeVecs,
      Array(-1, -1, -1, -1, -1, 0, -1, -1), 0)
    assert(tradeVecs(0).getUTF8String(0).toString == "@,I")
  }

  /** Feeds `[bad, good]` through TradeParser's walk: the bad record
    * must throw for warn-and-skip and leave the stream ON its own
    * END_OBJECT, so the good record decodes next. */
  private def assertStructFieldSkipped(bad: String): Unit = {
    val good = """{"t": "2021-01-01T09:30:00Z", "x": "V", "p": 2.0, "s": 2, "i": 8, "z": "C"}"""
    val jp = mapper.createParser(s"[$bad, $good]")
    val vecs = vectors(TradeParser.schema)
    val all = TradeParser.schema.fields.indices.toArray
    val sym = UTF8String.fromString("AAPL")
    assert(jp.nextToken() == JsonToken.START_ARRAY && jp.nextToken() == JsonToken.START_OBJECT)
    intercept[IllegalArgumentException] {
      TradeParser.parseIntoVectors(sym, jp, vecs, all, 0)
    }
    assert(jp.currentToken() == JsonToken.END_OBJECT)
    assert(jp.nextToken() == JsonToken.START_OBJECT, "stream left inside the bad record")
    TradeParser.parseIntoVectors(sym, jp, vecs, all, 0)
    assert(vecs(2).getUTF8String(0).toString == "V" && vecs(3).getDouble(0) == 2.0)
    assert(jp.nextToken() == JsonToken.END_ARRAY)
    intercept[IllegalArgumentException] { TradeParser.parse("AAPL", js(bad)) }
  }

  test("struct-valued string field skips the record (object x after p)") {
    assertStructFieldSkipped(
      """{"t": "2021-01-01T09:30:00Z", "p": 1.0, "s": 1, "i": 7, "z": "C", "x": {"p": 999.0}}""")
  }

  test("struct-valued string field skips the record (object x before p)") {
    assertStructFieldSkipped(
      """{"t": "2021-01-01T09:30:00Z", "x": {"p": 999.0}, "p": 1.0, "s": 1, "i": 7, "z": "C"}""")
  }

  test("every flat parser rejects an object or array where a string belongs") {
    import graft.core.{CryptoTradeParser, OptionQuoteParser, OptionTradeParser, StockQuoteParser}
    val t = "\"t\": \"2021-01-01T09:30:00Z\""
    val cases = Seq(
      TradeParser -> s"""{$t, "x": "V", "p": 1.0, "s": 1, "i": 1, "z": ["C"]}""",
      TradeParser -> s"""{$t, "x": "V", "p": 1.0, "s": 1, "i": 1, "z": "C", "c": [{"a": 1}]}""",
      CryptoTradeParser -> s"""{$t, "p": 1.0, "s": 1.0, "i": 1, "tks": {"side": "B"}}""",
      StockQuoteParser -> s"""{$t, "ax": {"v": 1}, "ap": 1.0, "as": 1, "bx": "N", "bp": 1.0, "bs": 1, "z": "C"}""",
      StockQuoteParser -> s"""{$t, "ax": "Q", "ap": 1.0, "as": 1, "bx": [], "bp": 1.0, "bs": 1, "z": "C"}""",
      OptionTradeParser -> s"""{$t, "x": "A", "p": 1.0, "s": 1, "c": {"code": "I"}}""",
      OptionQuoteParser -> s"""{$t, "ax": "A", "ap": 1.0, "as": 1, "bx": "B", "bp": 1.0, "bs": 1, "c": ["I"]}""")
    cases.foreach { case (p, rec) =>
      intercept[IllegalArgumentException](p.parse("X", js(rec)))
      // pruned away, the string field is still checked
      assertSkipped(p, rec, Array.fill(p.schema.length)(-1))
    }
  }

  /** `rec` through `p`'s vector walk under `fieldToOut` must throw for
    * warn-and-skip and leave the stream ON the record's END_OBJECT. */
  private def assertSkipped(p: VectorWriteSupport, rec: String, fieldToOut: Array[Int]): String = {
    val jp = mapper.createParser(rec)
    assert(jp.nextToken() == JsonToken.START_OBJECT)
    val e = intercept[IllegalArgumentException] {
      p.parseIntoVectors(UTF8String.fromString("X"), jp, vectors(p.schema), fieldToOut, 0)
    }
    assert(jp.currentToken() == JsonToken.END_OBJECT, rec)
    e.getMessage
  }

  test("out-of-range integer skips the record instead of failing the task") {
    val rec = """{"t": "2021-01-01T09:30:00Z", "o": 1.0, "h": 1.0, "l": 1.0, "c": 1.0,
      |"v": 99999999999999999999, "n": 1, "vw": 1.0}""".stripMargin
    val all = BarParser.schema.fields.indices.toArray
    assert(assertSkipped(BarParser, rec, all).contains("bad long"))
    // integers are parsed whatever the projection: pruning `volume`
    // keeps the skip
    assert(assertSkipped(BarParser, rec, all.updated(6, -1)).contains("bad long"))
  }

  test("every flat parser skips a bad pruned numeric field like a projected one") {
    import graft.core.{CryptoQuoteParser, CryptoTradeParser, OptionQuoteParser,
      OptionTradeParser, StockQuoteParser}
    val t = "\"t\": \"2021-01-01T09:30:00Z\""
    // (parser, well-formed record, numeric fields with their schema ordinals)
    val cases: Seq[(VectorWriteSupport, String, Seq[(String, Int)])] = Seq(
      (BarParser, s"""{$t, "o": 1.0, "h": 2.0, "l": 0.5, "c": 1.5, "v": 10, "n": 3, "vw": 1.25}""",
        Seq("o" -> 2, "h" -> 3, "l" -> 4, "c" -> 5, "v" -> 6, "n" -> 7, "vw" -> 8)),
      (TradeParser, s"""{$t, "x": "V", "p": 1.0, "s": 1, "c": ["@"], "i": 1, "z": "C"}""",
        Seq("p" -> 3, "s" -> 4, "i" -> 6)),
      (CryptoTradeParser, s"""{$t, "p": 1.0, "s": 0.5, "i": 1, "tks": "B"}""",
        Seq("p" -> 2, "s" -> 3, "i" -> 4)),
      (StockQuoteParser, s"""{$t, "ax": "Q", "ap": 1.0, "as": 1, "bx": "N", "bp": 1.0, "bs": 1, "c": ["R"], "z": "C"}""",
        Seq("ap" -> 3, "as" -> 4, "bp" -> 6, "bs" -> 7)),
      (CryptoQuoteParser, s"""{$t, "bp": 1.0, "bs": 1.5, "ap": 2.0, "as": 0.25}""",
        Seq("bp" -> 2, "bs" -> 3, "ap" -> 4, "as" -> 5)),
      (OptionTradeParser, s"""{$t, "x": "A", "p": 2.25, "s": 3, "c": "I"}""",
        Seq("p" -> 3, "s" -> 4)),
      (OptionQuoteParser, s"""{$t, "ax": "A", "ap": 2.75, "as": 7, "bx": "B", "bp": 2.25, "bs": 4, "c": "I"}""",
        Seq("ap" -> 3, "as" -> 4, "bp" -> 6, "bs" -> 7)))
    cases.foreach { case (p, good, fields) =>
      val all = p.schema.fields.indices.toArray
      fields.foreach { case (key, ord) =>
        val pruned = all.updated(ord, -1)
        val goodJp = mapper.createParser(good)
        goodJp.nextToken()
        p.parseIntoVectors(UTF8String.fromString("X"), goodJp, vectors(p.schema), pruned, 0)
        assert(goodJp.currentToken() == JsonToken.END_OBJECT)
        Seq("\"abc\"", "{\"x\": 1}", "[1]", "true").foreach { bad =>
          val rec = good.replaceFirst(s""""$key": [^,}]+""", s""""$key": $bad""")
          assert(rec != good)
          assertSkipped(p, rec, all)
          assertSkipped(p, rec, pruned)
        }
      }
    }
  }
}
