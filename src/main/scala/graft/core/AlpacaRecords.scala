package graft.core

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The three fixed schemas (SURVEY §1.3), single source of truth —
  * no duplicate DDL/Arrow pair as in the reference. */
object Schemas {
  /** reference: `bars.py:115-127` */
  val bars: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, open DOUBLE, high DOUBLE, low DOUBLE, " +
      "close DOUBLE, volume BIGINT, trade_count BIGINT, vwap DOUBLE")

  /** reference: `stocks/trades.py:70-80` */
  val trades: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, exchange STRING, price DOUBLE, " +
      "size BIGINT, conditions STRING, id BIGINT, tape STRING")

  /** Crypto trades (v1beta3 family; the reference ships only the
    * empty crypto module, `crypto/__init__.py:1`). Unlike stock
    * trades, `size` is a DOUBLE (fractional coin quantities) and the
    * venue fields (exchange/conditions/tape) are replaced by the
    * single `taker_side` ("B"/"S"). */
  val cryptoTrades: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, price DOUBLE, size DOUBLE, " +
      "id BIGINT, taker_side STRING")

  /** Crypto quotes (v1beta3): best bid/ask snapshot stream. All four
    * price/size fields are DOUBLEs (fractional coin sizes). */
  val cryptoQuotes: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, bid_price DOUBLE, bid_size DOUBLE, " +
      "ask_price DOUBLE, ask_size DOUBLE")

  /** Stock NBBO quotes (v2; no reference twin — it ships only
    * bars/trades/corporate-actions). Sizes are integer round lots;
    * `conditions` flattens to CSV exactly like trades. */
  val stockQuotes: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, ask_exchange STRING, ask_price DOUBLE, " +
      "ask_size BIGINT, bid_exchange STRING, bid_price DOUBLE, " +
      "bid_size BIGINT, conditions STRING, tape STRING")

  /** Option-contract trades (v2 options family; the reference's only
    * options surface is bars, `options/bars.py:17-48` — trades/quotes
    * complete the family against the public endpoint shape). Sizes are
    * integer contract counts; `condition` is the single-character
    * option sale condition (a scalar in the API, unlike the stock
    * trades condition ARRAY), absent → empty string. */
  val optionTrades: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, exchange STRING, price DOUBLE, " +
      "size BIGINT, condition STRING")

  /** Option-contract NBBO quotes (v2 options family): integer contract
    * sizes, single scalar `condition` like option trades. */
  val optionQuotes: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, ask_exchange STRING, ask_price DOUBLE, " +
      "ask_size BIGINT, bid_exchange STRING, bid_price DOUBLE, " +
      "bid_size BIGINT, condition STRING")

  /** reference: `corporate_actions.py:93-104` */
  val corporateActions: StructType = StructType.fromDDL(
    "symbol STRING, ex_date TIMESTAMP, record_date TIMESTAMP, " +
      "payable_date TIMESTAMP, type STRING, amount DOUBLE, ratio DOUBLE, " +
      "new_symbol STRING, old_symbol STRING")

  /** News articles (v1beta1; no reference twin — the public API's
    * text endpoint, and the bridge from the market-data connector to
    * the text-curation operators). `symbol` is the REQUESTED symbol:
    * the news envelope is a FLAT array, not a per-symbol map, so a
    * cross-listed article arrives once per requested-symbol partition
    * — consumers dedup by `id` (gated). `symbols` flattens the
    * article's full ticker list to CSV exactly like trade conditions;
    * `updated_at` is nullable (absent on never-revised articles). */
  val news: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, updated_at TIMESTAMP, id BIGINT, " +
      "headline STRING, author STRING, summary STRING, content STRING, " +
      "symbols STRING, source STRING, url STRING")

  /** Opening/closing auction prints (v2 `/stocks/auctions`; no
    * reference twin — the daily-auction endpoint completes the stocks
    * family). The API groups prints into one record PER TRADING DAY
    * (`d` + `o`/`c` print arrays); the source flattens each daily
    * record into one row per print — `auction_date` is the record's
    * day (midnight UTC, like corporate-action dates), `auction_type`
    * is 'O'/'C' for the array the print came from. */
  val auctions: StructType = StructType.fromDDL(
    "symbol STRING, auction_date TIMESTAMP, auction_type STRING, " +
      "time TIMESTAMP, exchange STRING, price DOUBLE, size BIGINT, " +
      "condition STRING")

  /** Point-in-time market snapshot (v2 `/stocks/snapshots`; no
    * reference twin). The envelope maps each symbol to ONE nested
    * OBJECT (latestTrade/latestQuote/minuteBar/dailyBar/prevDailyBar)
    * — not an array — flattened here to one wide row per symbol; an
    * absent section (e.g. no prev-day bar on a new listing) nulls its
    * columns. */
  val snapshots: StructType = StructType.fromDDL(
    "symbol STRING, latest_trade_time TIMESTAMP, latest_trade_price DOUBLE, " +
      "latest_trade_size BIGINT, latest_quote_time TIMESTAMP, " +
      "bid_price DOUBLE, bid_size BIGINT, ask_price DOUBLE, ask_size BIGINT, " +
      "minute_bar_time TIMESTAMP, minute_close DOUBLE, minute_volume BIGINT, " +
      "daily_bar_time TIMESTAMP, daily_open DOUBLE, daily_high DOUBLE, " +
      "daily_low DOUBLE, daily_close DOUBLE, daily_volume BIGINT, " +
      "prev_daily_close DOUBLE")

  /** Option-contract snapshot with risk metrics (v1beta1
    * `/options/snapshots`): per-OCC-symbol OBJECT record carrying
    * `impliedVolatility`, a nested `greeks` object, and the latest
    * quote/trade — flattened to one wide row. A brand-new contract
    * has no greeks/IV yet and an untraded one no latestTrade: absent
    * sections null their columns. */
  val optionSnapshots: StructType = StructType.fromDDL(
    "symbol STRING, iv DOUBLE, delta DOUBLE, gamma DOUBLE, " +
      "theta DOUBLE, vega DOUBLE, rho DOUBLE, bid_price DOUBLE, " +
      "ask_price DOUBLE, last_price DOUBLE, last_size BIGINT")

  /** Crypto point-in-time snapshot (v1beta3 `/crypto/us/snapshots`):
    * same five-section shape as stock snapshots but under a KEYED
    * `snapshots` envelope, with fractional trade/quote sizes and no
    * venue fields. */
  val cryptoSnapshots: StructType = StructType.fromDDL(
    "symbol STRING, latest_trade_time TIMESTAMP, latest_trade_price DOUBLE, " +
      "latest_trade_size DOUBLE, latest_quote_time TIMESTAMP, " +
      "bid_price DOUBLE, bid_size DOUBLE, ask_price DOUBLE, ask_size DOUBLE, " +
      "minute_bar_time TIMESTAMP, minute_close DOUBLE, minute_volume BIGINT, " +
      "daily_bar_time TIMESTAMP, daily_open DOUBLE, daily_high DOUBLE, " +
      "daily_low DOUBLE, daily_close DOUBLE, daily_volume BIGINT, " +
      "prev_daily_close DOUBLE")

  /** Screener: most-active symbols by volume (v1beta1
    * `/screener/stocks/most-actives`) — market-wide, no symbols
    * requested; the record carries its OWN symbol. */
  val mostActives: StructType = StructType.fromDDL(
    "symbol STRING, volume BIGINT, trade_count BIGINT")

  /** Screener: top market movers (v1beta1 `/screener/stocks/movers`)
    * — the response body holds TWO arrays (`gainers`, `losers`);
    * each registers as its own source over the shared endpoint. */
  val movers: StructType = StructType.fromDDL(
    "symbol STRING, percent_change DOUBLE, change DOUBLE, price DOUBLE")

  /** Crypto latest-orderbook depth levels (v1beta3
    * `/crypto/us/latest/orderbooks`): one row per level per side,
    * `level` 1-based from the top of book in the venue's own order.
    * All prices/sizes DOUBLE (fractional coin sizes). */
  val orderbooks: StructType = StructType.fromDDL(
    "symbol STRING, time TIMESTAMP, side STRING, level INT, " +
      "price DOUBLE, size DOUBLE")
}

/** Per-record projection of an API JSON object into an InternalRow
  * (the reference's only expression evaluation, SURVEY §2.4 E1-E3).
  * Throws IllegalArgumentException on malformed records; the reader
  * warns + skips (E4, `common.py:484-486`). The flat time-series
  * parsers decode through one token walk ([[VectorWriteSupport]]); the
  * cold sources (news, corporate actions, auctions, snapshots,
  * orderbooks, screeners) implement [[parse]] over a record DOM. */
trait RecordParser extends Serializable {
  def schema: StructType
  def parse(symbol: String, rec: JsonNode): InternalRow

  /** Streaming parse of one record: the parser must be positioned ON
    * the record's START_OBJECT and, on success, is left ON its
    * END_OBJECT. Default materializes just this record's subtree and
    * delegates to [[parse]]; [[VectorWriteSupport]] parsers run their
    * token walk instead (no DOM at all). On failure the token stream
    * is realigned to the record's END_OBJECT before rethrowing, so the
    * caller can warn + skip and continue with the next record (E4
    * semantics). */
  def parseStream(symbol: String, jp: JsonParser): InternalRow = {
    val node = jp.readValueAsTree[JsonNode]()
    parse(symbol, node)
  }

  /** One API record → N output rows. Most sources are 1:1 (default
    * delegates to [[parseStream]]); fan-out sources (auctions: one
    * daily record holds arrays of prints) override. Same positioning
    * contract as parseStream; on failure NOTHING may have been emitted
    * via `out` (validate the whole record before the first emit) so
    * the caller's warn+skip drops the record atomically. */
  def parseStreamMulti(symbol: String, jp: JsonParser,
      out: InternalRow => Unit): Unit =
    out(parseStream(symbol, jp))

  /** Realign to the current record's END_OBJECT after a mid-record
    * failure (value tokens already consumed are scalars; an
    * unconsumed struct value is skipped wholesale). */
  protected final def skipRecord(jp: JsonParser): Unit = {
    try {
      var tk = jp.currentToken()
      if (tk != null && tk.isStructStart) jp.skipChildren()
      tk = jp.nextToken()
      while (tk != null && tk != JsonToken.END_OBJECT) {
        if (tk.isStructStart) jp.skipChildren()
        tk = jp.nextToken()
      }
    } catch { case _: java.io.IOException => () }
  }

  /** The common wire shapes parse from the parser's own chars; any
    * other value goes through [[AlpacaOptions.parseIsoMicros]]. */
  protected final def streamTs(jp: JsonParser, key: String): Long = {
    val fast = AlpacaOptions.isoMicrosFast(
      jp.getTextCharacters, jp.getTextOffset, jp.getTextLength)
    if (fast != AlpacaOptions.NotFast) fast
    else {
      val raw = jp.getText
      AlpacaOptions.parseIsoMicros(raw).getOrElse(
        throw new IllegalArgumentException(s"bad timestamp '$raw' in '$key'"))
    }
  }

  protected final def streamDbl(jp: JsonParser, key: String): Double = {
    import JsonToken._
    jp.currentToken() match {
      case VALUE_NUMBER_INT | VALUE_NUMBER_FLOAT => jp.getDoubleValue
      case VALUE_STRING =>
        try jp.getText.toDouble
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"bad double '${jp.getText}' in '$key'") }
      case _ => throw new IllegalArgumentException(s"bad double in '$key'")
    }
  }

  /** An integer outside the 64-bit range is a bad value like any
    * other: it skips the record instead of failing the task. */
  protected final def streamLng(jp: JsonParser, key: String): Long = {
    import JsonToken._
    jp.currentToken() match {
      case VALUE_NUMBER_INT =>
        try jp.getLongValue
        catch { case _: com.fasterxml.jackson.core.exc.InputCoercionException =>
          throw new IllegalArgumentException(s"bad long '${jp.getText}' in '$key'") }
      case VALUE_NUMBER_FLOAT => jp.getDoubleValue.toLong
      case VALUE_STRING =>
        try jp.getText.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"bad long '${jp.getText}' in '$key'") }
      case _ => throw new IllegalArgumentException(s"bad long in '$key'")
    }
  }

  /** Completeness gate of a token walk: bit i of `seen` is set once
    * `names(i)` was read (null reads as absent); the lowest clear bit
    * names the missing field. */
  protected final def requireAll(seen: Int, names: Array[String]): Unit =
    if (seen != (1 << names.length) - 1)
      throw new IllegalArgumentException(
        s"missing field '${names(Integer.numberOfTrailingZeros(~seen))}'")

  protected def utf8(s: String): UTF8String = UTF8String.fromString(s)

  protected def reqNode(rec: JsonNode, key: String): JsonNode = {
    val n = rec.get(key)
    if (n == null || n.isNull)
      throw new IllegalArgumentException(s"missing field '$key'")
    n
  }
  protected def isoMicros(rec: JsonNode, key: String): Long = {
    val raw = reqNode(rec, key).asText()
    AlpacaOptions.parseIsoMicros(raw).getOrElse(
      throw new IllegalArgumentException(s"bad timestamp '$raw' in '$key'"))
  }
  protected def dbl(rec: JsonNode, key: String): Double = {
    val n = reqNode(rec, key)
    if (n.isNumber) n.asDouble()
    else try n.asText().toDouble
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"bad double '$n' in '$key'") }
  }
  protected def lng(rec: JsonNode, key: String): Long = {
    val n = reqNode(rec, key)
    if (n.isIntegralNumber) n.asLong()
    else if (n.isFloatingPointNumber) n.asDouble().toLong
    else try n.asText().toLong
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"bad long '$n' in '$key'") }
  }
}

/** Direct token→vector decode, the one record walk of the flat
  * time-series parsers: records are written straight into a
  * ColumnarBatch's vectors with no InternalRow (and no boxing) in
  * between — HTTP bytes → Jackson tokens → column vectors →
  * codegen'd ColumnarToRow. Contract mirrors [[RecordParser.parseStream]]:
  * enter ON the record's START_OBJECT, leave ON its END_OBJECT, and
  * realign before rethrowing so the caller can warn+skip. On failure
  * the row slot may hold partial values — the caller must not advance
  * the row index, so the next record overwrites it. The row entry
  * points ([[parse]], [[parseStream]]) run the same walk.
  *
  * Pruned fields are validated, not materialized: a pruned double
  * with a numeric token is type-checked without conversion, and a
  * pruned string or condition array is checked for struct values
  * without building any String. Timestamps, integers and
  * string-encoded numbers are parsed whether projected or not, so
  * which records are skipped — and so the row count — does not depend
  * on the projection. */
trait VectorWriteSupport extends RecordParser {
  /** @param fieldToOut output-vector ordinal for each field of
    *   [[RecordParser.schema]] (−1 = pruned away). `vecs` is indexed
    *   by those output ordinals. */
  def parseIntoVectors(symbol: UTF8String, jp: JsonParser,
      vecs: Array[WritableColumnVector], fieldToOut: Array[Int], row: Int): Unit

  /** One record through [[parseIntoVectors]] into a one-row scratch,
    * copied out as an InternalRow. The scratch is allocated per call
    * because the parser objects are shared across tasks; only the row
    * paths pay for it — the `*_Latest` sources (one row per symbol). */
  final override def parseStream(symbol: String, jp: JsonParser): InternalRow = {
    val vecs = OnHeapColumnVector.allocateColumns(1, schema)
    parseIntoVectors(utf8(symbol), jp, vecs.asInstanceOf[Array[WritableColumnVector]],
      Array.range(0, schema.length), 0)
    InternalRow.fromSeq(schema.fields.indices.map { i =>
      schema(i).dataType match {
        case StringType => vecs(i).getUTF8String(0)
        case DoubleType => vecs(i).getDouble(0)
        case _ => vecs(i).getLong(0) // TIMESTAMP, BIGINT
      }
    })
  }

  /** The DOM entry point, through the same walk. */
  final override def parse(symbol: String, rec: JsonNode): InternalRow = {
    val jp = rec.traverse()
    try { jp.nextToken(); parseStream(symbol, jp) } finally jp.close()
  }

  protected final def putStr(vecs: Array[WritableColumnVector],
      out: Int, row: Int, s: UTF8String): Unit =
    if (out >= 0) {
      val b = s.getBytes
      vecs(out).putByteArray(row, b, 0, b.length)
    }

  // One helper per field kind. The parser is ON the field's value
  // (never VALUE_NULL, which the walks read as absent); `out` is the
  // field's output ordinal, −1 when pruned.

  /** Timestamp: parsed whatever the projection, written if projected. */
  protected final def tsField(jp: JsonParser, key: String,
      vecs: Array[WritableColumnVector], out: Int, row: Int): Unit = {
    val v = streamTs(jp, key)
    if (out >= 0) vecs(out).putLong(row, v)
  }

  /** Integer: parsed whatever the projection (an out-of-range value
    * skips the record either way), written if projected. */
  protected final def lngField(jp: JsonParser, key: String,
      vecs: Array[WritableColumnVector], out: Int, row: Int): Unit = {
    val v = streamLng(jp, key)
    if (out >= 0) vecs(out).putLong(row, v)
  }

  /** Double. Pruned, a numeric token is only type-checked: the lexer
    * has checked its grammar, so the conversion could not fail. A
    * string still parses and any other token throws, as when
    * projected. */
  protected final def dblField(jp: JsonParser, key: String,
      vecs: Array[WritableColumnVector], out: Int, row: Int): Unit =
    if (out >= 0) vecs(out).putDouble(row, streamDbl(jp, key))
    else if (!jp.currentToken().isNumeric) streamDbl(jp, key)

  /** String: the value's text, or null when pruned (no String built).
    * An object or array where a string belongs makes the record
    * malformed either way: the throw lands in the walk's catch, whose
    * [[RecordParser.skipRecord]] skips the value and realigns to the
    * record's END_OBJECT — the struct's insides are never read as
    * fields of the record. */
  protected final def strField(jp: JsonParser, key: String, out: Int): String =
    if (jp.currentToken().isStructStart)
      throw new IllegalArgumentException(s"bad string (object or array) in '$key'")
    else if (out >= 0) jp.getText
    else null

  /** The condition-code array joined to CSV (`",".join(c)`,
    * `stocks/trades.py:128`), or null when pruned; every element is
    * checked like a [[strField]] either way. A value that is not an
    * array reads as no conditions, like an absent key. */
  protected final def csvField(jp: JsonParser, key: String, out: Int): String =
    if (jp.currentToken() != JsonToken.START_ARRAY) {
      if (jp.currentToken().isStructStart) jp.skipChildren()
      ""
    } else {
      val sb = if (out >= 0) new java.lang.StringBuilder else null
      while (jp.nextToken() != JsonToken.END_ARRAY) {
        val s = strField(jp, key, out)
        if (sb != null) {
          if (sb.length > 0) sb.append(',')
          sb.append(s)
        }
      }
      if (sb == null) null else sb.toString
    }
}

/** `{t,o,h,l,c,v,n,vw}` → bar row (reference: `bars.py:199-225`). */
object BarParser extends RecordParser with VectorWriteSupport {
  override val schema: StructType = Schemas.bars

  private val FieldNames = Array("t", "o", "h", "l", "c", "v", "n", "vw")

  /** Numeric/timestamp fields write through immediately (a failed
    * record's partial writes are overwritten when the slot is reused);
    * the seen-mask gates completeness, so a null or absent field is a
    * missing-field error. */
  override def parseIntoVectors(symbol: UTF8String, jp: JsonParser,
      vecs: Array[WritableColumnVector], fieldToOut: Array[Int], row: Int): Unit = {
    var seen = 0
    try {
      var tk = jp.nextToken()
      while (tk == JsonToken.FIELD_NAME) {
        val name = jp.currentName()
        val vt = jp.nextToken()
        if (vt == JsonToken.VALUE_NULL) () // same as absent
        else name match {
          case "t" => tsField(jp, "t", vecs, fieldToOut(1), row); seen |= 1
          case "o" => dblField(jp, "o", vecs, fieldToOut(2), row); seen |= 2
          case "h" => dblField(jp, "h", vecs, fieldToOut(3), row); seen |= 4
          case "l" => dblField(jp, "l", vecs, fieldToOut(4), row); seen |= 8
          case "c" => dblField(jp, "c", vecs, fieldToOut(5), row); seen |= 16
          case "v" => lngField(jp, "v", vecs, fieldToOut(6), row); seen |= 32
          case "n" => lngField(jp, "n", vecs, fieldToOut(7), row); seen |= 64
          case "vw" => dblField(jp, "vw", vecs, fieldToOut(8), row); seen |= 128
          case _ => if (vt.isStructStart) jp.skipChildren()
        }
        tk = jp.nextToken()
      }
    } catch { case e: Throwable => skipRecord(jp); throw e }
    requireAll(seen, FieldNames)
    putStr(vecs, fieldToOut(0), row, symbol)
  }
}

/** `{t,x,p,s,c,i,z}` → trade row; the `c` array of condition codes is
  * flattened to a CSV string (reference: `stocks/trades.py:113-140`,
  * join at `:128`). */
object TradeParser extends RecordParser with VectorWriteSupport {
  override val schema: StructType = Schemas.trades

  private val FieldNames = Array("t", "x", "p", "s", "i", "z")

  /** Strings are held in locals and written only after the record
    * validates, so failed records leave no bytes in the string vectors'
    * child buffers. Absent/null `c` → empty string. Schema order:
    * symbol, time, exchange, price, size, conditions, id, tape. */
  override def parseIntoVectors(symbol: UTF8String, jp: JsonParser,
      vecs: Array[WritableColumnVector], fieldToOut: Array[Int], row: Int): Unit = {
    var x: String = null; var z: String = null
    var conditions = ""
    var seen = 0
    try {
      var tk = jp.nextToken()
      while (tk == JsonToken.FIELD_NAME) {
        val name = jp.currentName()
        val vt = jp.nextToken()
        if (vt == JsonToken.VALUE_NULL) () // absent/null → default or missing
        else name match {
          case "t" => tsField(jp, "t", vecs, fieldToOut(1), row); seen |= 1
          case "x" => x = strField(jp, "x", fieldToOut(2)); seen |= 2
          case "p" => dblField(jp, "p", vecs, fieldToOut(3), row); seen |= 4
          case "s" => lngField(jp, "s", vecs, fieldToOut(4), row); seen |= 8
          case "i" => lngField(jp, "i", vecs, fieldToOut(6), row); seen |= 16
          case "z" => z = strField(jp, "z", fieldToOut(7)); seen |= 32
          case "c" => conditions = csvField(jp, "c", fieldToOut(5))
          case _ => if (vt.isStructStart) jp.skipChildren()
        }
        tk = jp.nextToken()
      }
    } catch { case e: Throwable => skipRecord(jp); throw e }
    requireAll(seen, FieldNames)
    putStr(vecs, fieldToOut(0), row, symbol)
    putStr(vecs, fieldToOut(2), row, utf8(x))
    putStr(vecs, fieldToOut(5), row, utf8(conditions))
    putStr(vecs, fieldToOut(7), row, utf8(z))
  }
}

/** `{t,p,s,i,tks}` → crypto trade row (public Alpaca v1beta3 crypto
  * record shape; no reference code exists to mirror —
  * `crypto/__init__.py:1` is empty). `s` stays a DOUBLE (fractional
  * sizes), `tks` is the taker side. Same walk discipline as the stock
  * TradeParser. */
object CryptoTradeParser extends RecordParser with VectorWriteSupport {
  override val schema: StructType = Schemas.cryptoTrades

  private val FieldNames = Array("t", "p", "s", "i", "tks")

  /** Schema order: symbol, time, price, size, id, taker_side; strings
    * written only after the record validates. */
  override def parseIntoVectors(symbol: UTF8String, jp: JsonParser,
      vecs: Array[WritableColumnVector], fieldToOut: Array[Int], row: Int): Unit = {
    var tks: String = null
    var seen = 0
    try {
      var tk = jp.nextToken()
      while (tk == JsonToken.FIELD_NAME) {
        val name = jp.currentName()
        val vt = jp.nextToken()
        if (vt == JsonToken.VALUE_NULL) ()
        else name match {
          case "t" => tsField(jp, "t", vecs, fieldToOut(1), row); seen |= 1
          case "p" => dblField(jp, "p", vecs, fieldToOut(2), row); seen |= 2
          case "s" => dblField(jp, "s", vecs, fieldToOut(3), row); seen |= 4
          case "i" => lngField(jp, "i", vecs, fieldToOut(4), row); seen |= 8
          case "tks" => tks = strField(jp, "tks", fieldToOut(5)); seen |= 16
          case _ => if (vt.isStructStart) jp.skipChildren()
        }
        tk = jp.nextToken()
      }
    } catch { case e: Throwable => skipRecord(jp); throw e }
    requireAll(seen, FieldNames)
    putStr(vecs, fieldToOut(0), row, symbol)
    putStr(vecs, fieldToOut(5), row, utf8(tks))
  }
}

/** `{t,ax,ap,as,bx,bp,bs,c,z}` → stock NBBO quote row (public Alpaca
  * v2 quote shape; the `c` condition array flattens to CSV like
  * trades, absent/null `c` → empty string). */
object StockQuoteParser extends RecordParser with VectorWriteSupport {
  override val schema: StructType = Schemas.stockQuotes

  private val FieldNames = Array("t", "ax", "ap", "as", "bx", "bp", "bs", "z")

  /** Schema order: symbol, time, ask_exchange, ask_price, ask_size,
    * bid_exchange, bid_price, bid_size, conditions, tape; strings
    * written only after the record validates. */
  override def parseIntoVectors(symbol: UTF8String, jp: JsonParser,
      vecs: Array[WritableColumnVector], fieldToOut: Array[Int], row: Int): Unit = {
    var ax: String = null; var bx: String = null; var z: String = null
    var conditions = ""
    var seen = 0
    try {
      var tk = jp.nextToken()
      while (tk == JsonToken.FIELD_NAME) {
        val name = jp.currentName()
        val vt = jp.nextToken()
        if (vt == JsonToken.VALUE_NULL) ()
        else name match {
          case "t" => tsField(jp, "t", vecs, fieldToOut(1), row); seen |= 1
          case "ax" => ax = strField(jp, "ax", fieldToOut(2)); seen |= 2
          case "ap" => dblField(jp, "ap", vecs, fieldToOut(3), row); seen |= 4
          case "as" => lngField(jp, "as", vecs, fieldToOut(4), row); seen |= 8
          case "bx" => bx = strField(jp, "bx", fieldToOut(5)); seen |= 16
          case "bp" => dblField(jp, "bp", vecs, fieldToOut(6), row); seen |= 32
          case "bs" => lngField(jp, "bs", vecs, fieldToOut(7), row); seen |= 64
          case "z" => z = strField(jp, "z", fieldToOut(9)); seen |= 128
          case "c" => conditions = csvField(jp, "c", fieldToOut(8))
          case _ => if (vt.isStructStart) jp.skipChildren()
        }
        tk = jp.nextToken()
      }
    } catch { case e: Throwable => skipRecord(jp); throw e }
    requireAll(seen, FieldNames)
    putStr(vecs, fieldToOut(0), row, symbol)
    putStr(vecs, fieldToOut(2), row, utf8(ax))
    putStr(vecs, fieldToOut(5), row, utf8(bx))
    putStr(vecs, fieldToOut(8), row, utf8(conditions))
    putStr(vecs, fieldToOut(9), row, utf8(z))
  }
}

/** `{t,bp,bs,ap,as}` → crypto quote row (public Alpaca v1beta3 quote
  * shape). Same walk discipline as the trade parsers. */
object CryptoQuoteParser extends RecordParser with VectorWriteSupport {
  override val schema: StructType = Schemas.cryptoQuotes

  private val FieldNames = Array("t", "bp", "bs", "ap", "as")

  /** Schema order: symbol, time, bid_price, bid_size, ask_price,
    * ask_size. */
  override def parseIntoVectors(symbol: UTF8String, jp: JsonParser,
      vecs: Array[WritableColumnVector], fieldToOut: Array[Int], row: Int): Unit = {
    var seen = 0
    try {
      var tk = jp.nextToken()
      while (tk == JsonToken.FIELD_NAME) {
        val name = jp.currentName()
        val vt = jp.nextToken()
        if (vt == JsonToken.VALUE_NULL) ()
        else name match {
          case "t" => tsField(jp, "t", vecs, fieldToOut(1), row); seen |= 1
          case "bp" => dblField(jp, "bp", vecs, fieldToOut(2), row); seen |= 2
          case "bs" => dblField(jp, "bs", vecs, fieldToOut(3), row); seen |= 4
          case "ap" => dblField(jp, "ap", vecs, fieldToOut(4), row); seen |= 8
          case "as" => dblField(jp, "as", vecs, fieldToOut(5), row); seen |= 16
          case _ => if (vt.isStructStart) jp.skipChildren()
        }
        tk = jp.nextToken()
      }
    } catch { case e: Throwable => skipRecord(jp); throw e }
    requireAll(seen, FieldNames)
    putStr(vecs, fieldToOut(0), row, symbol)
  }
}

/** `{t,x,p,s,c}` → option trade row (public Alpaca v2 options trade
  * shape; the reference's options family has bars only,
  * `options/bars.py:17-48`). Unlike stock trades the `c` condition is
  * a SCALAR string, not an array — absent/null → empty string — and
  * there is no id/tape. */
object OptionTradeParser extends RecordParser with VectorWriteSupport {
  override val schema: StructType = Schemas.optionTrades

  private val FieldNames = Array("t", "x", "p", "s")

  /** Schema order: symbol, time, exchange, price, size, condition;
    * strings written only after the record validates. */
  override def parseIntoVectors(symbol: UTF8String, jp: JsonParser,
      vecs: Array[WritableColumnVector], fieldToOut: Array[Int], row: Int): Unit = {
    var x: String = null; var condition = ""
    var seen = 0
    try {
      var tk = jp.nextToken()
      while (tk == JsonToken.FIELD_NAME) {
        val name = jp.currentName()
        val vt = jp.nextToken()
        if (vt == JsonToken.VALUE_NULL) ()
        else name match {
          case "t" => tsField(jp, "t", vecs, fieldToOut(1), row); seen |= 1
          case "x" => x = strField(jp, "x", fieldToOut(2)); seen |= 2
          case "p" => dblField(jp, "p", vecs, fieldToOut(3), row); seen |= 4
          case "s" => lngField(jp, "s", vecs, fieldToOut(4), row); seen |= 8
          case "c" => condition = strField(jp, "c", fieldToOut(5))
          case _ => if (vt.isStructStart) jp.skipChildren()
        }
        tk = jp.nextToken()
      }
    } catch { case e: Throwable => skipRecord(jp); throw e }
    requireAll(seen, FieldNames)
    putStr(vecs, fieldToOut(0), row, symbol)
    putStr(vecs, fieldToOut(2), row, utf8(x))
    putStr(vecs, fieldToOut(5), row, utf8(condition))
  }
}

/** `{t,ax,ap,as,bx,bp,bs,c}` → option NBBO quote row (public Alpaca
  * v2 options quote shape): integer contract sizes, scalar `c`
  * condition (absent/null → empty string), no tape. */
object OptionQuoteParser extends RecordParser with VectorWriteSupport {
  override val schema: StructType = Schemas.optionQuotes

  private val FieldNames = Array("t", "ax", "ap", "as", "bx", "bp", "bs")

  /** Schema order: symbol, time, ask_exchange, ask_price, ask_size,
    * bid_exchange, bid_price, bid_size, condition. */
  override def parseIntoVectors(symbol: UTF8String, jp: JsonParser,
      vecs: Array[WritableColumnVector], fieldToOut: Array[Int], row: Int): Unit = {
    var ax: String = null; var bx: String = null; var condition = ""
    var seen = 0
    try {
      var tk = jp.nextToken()
      while (tk == JsonToken.FIELD_NAME) {
        val name = jp.currentName()
        val vt = jp.nextToken()
        if (vt == JsonToken.VALUE_NULL) ()
        else name match {
          case "t" => tsField(jp, "t", vecs, fieldToOut(1), row); seen |= 1
          case "ax" => ax = strField(jp, "ax", fieldToOut(2)); seen |= 2
          case "ap" => dblField(jp, "ap", vecs, fieldToOut(3), row); seen |= 4
          case "as" => lngField(jp, "as", vecs, fieldToOut(4), row); seen |= 8
          case "bx" => bx = strField(jp, "bx", fieldToOut(5)); seen |= 16
          case "bp" => dblField(jp, "bp", vecs, fieldToOut(6), row); seen |= 32
          case "bs" => lngField(jp, "bs", vecs, fieldToOut(7), row); seen |= 64
          case "c" => condition = strField(jp, "c", fieldToOut(8))
          case _ => if (vt.isStructStart) jp.skipChildren()
        }
        tk = jp.nextToken()
      }
    } catch { case e: Throwable => skipRecord(jp); throw e }
    requireAll(seen, FieldNames)
    putStr(vecs, fieldToOut(0), row, symbol)
    putStr(vecs, fieldToOut(2), row, utf8(ax))
    putStr(vecs, fieldToOut(5), row, utf8(bx))
    putStr(vecs, fieldToOut(8), row, utf8(condition))
  }
}

/** Corporate-action row with nullable dates and defaults; `ratio`
  * defaults to 0.0 as the reference code does (not the 1.0 its schema
  * comment claims — `corporate_actions.py:101` vs `:164`). */
object CorporateActionParser extends RecordParser {
  override val schema: StructType = Schemas.corporateActions

  private def optIsoMicros(rec: JsonNode, key: String): Any = {
    val n = rec.get(key)
    if (n == null || n.isNull || n.asText().isEmpty) null
    else AlpacaOptions.parseIsoMicros(n.asText()).getOrElse(
      throw new IllegalArgumentException(s"bad timestamp in '$key'"))
  }
  private def strDefault(rec: JsonNode, key: String, default: String): UTF8String = {
    val n = rec.get(key)
    utf8(if (n == null || n.isNull) default else n.asText())
  }
  private def dblDefault(rec: JsonNode, key: String, default: Double): Double = {
    val n = rec.get(key)
    if (n == null || n.isNull) default
    else if (n.isNumber) n.asDouble()
    else try n.asText().toDouble
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"bad double in '$key'") }
  }

  override def parse(symbol: String, rec: JsonNode): InternalRow =
    InternalRow(
      utf8(symbol),
      optIsoMicros(rec, "ex_date"),
      optIsoMicros(rec, "record_date"),
      optIsoMicros(rec, "payable_date"),
      strDefault(rec, "type", ""),
      dblDefault(rec, "amount", 0.0),
      dblDefault(rec, "ratio", 0.0),
      strDefault(rec, "new_symbol", ""),
      strDefault(rec, "old_symbol", ""))
}

/** Flat-envelope news article (v1beta1 `/news`): full-name keys
  * (`created_at`, `headline`, …), `symbols` array → CSV like trade
  * conditions, nullable `updated_at`. DOM parse like corporate
  * actions — news records are large text blobs, dozens per page, so
  * the streaming byte walk buys nothing here (the hot tick parsers
  * keep it); required fields are id/created_at/headline, everything
  * else defaults (record-shape tolerance, E4 discipline). */
object NewsParser extends RecordParser {
  override val schema: StructType = Schemas.news

  private def strDefault(rec: JsonNode, key: String): UTF8String = {
    val n = rec.get(key)
    utf8(if (n == null || n.isNull) "" else n.asText())
  }

  override def parse(symbol: String, rec: JsonNode): InternalRow = {
    val symsNode = rec.get("symbols")
    val syms =
      if (symsNode == null || symsNode.isNull) ""
      else {
        val it = symsNode.elements()
        val sb = new StringBuilder
        while (it.hasNext) {
          if (sb.nonEmpty) sb.append(',')
          sb.append(it.next().asText())
        }
        sb.toString
      }
    val upd = rec.get("updated_at")
    InternalRow(
      utf8(symbol),
      isoMicros(rec, "created_at"),
      if (upd == null || upd.isNull || upd.asText().isEmpty) null
      else AlpacaOptions.parseIsoMicros(upd.asText()).getOrElse(
        throw new IllegalArgumentException("bad timestamp in 'updated_at'")),
      lng(rec, "id"),
      utf8(reqNode(rec, "headline").asText()),
      strDefault(rec, "author"),
      strDefault(rec, "summary"),
      strDefault(rec, "content"),
      utf8(syms),
      strDefault(rec, "source"),
      strDefault(rec, "url"))
  }
}

/** Daily auction record (v2 `/stocks/auctions`): `{d, o: [print…],
  * c: [print…]}` → one row per print, tagged 'O'/'C' — the one
  * FAN-OUT record shape in the API (every other source is record=row).
  * DOM parse: auction records are low-rate (a handful of prints per
  * symbol-day), so the streaming byte walk buys nothing. The whole
  * record validates BEFORE the first row is emitted (parseStreamMulti
  * contract): a bad print anywhere drops the daily record atomically
  * under E4 warn+skip semantics. `d` is required; either print array
  * may be absent or empty (half-days have no close; halted days no
  * open); print fields t/x/p/s required, condition `c` optional → "". */
object AuctionParser extends RecordParser {
  override val schema: StructType = Schemas.auctions

  private def printRows(symbol: String, dateUs: Long, tpe: String,
      arr: JsonNode, out: scala.collection.mutable.ArrayBuffer[InternalRow]): Unit = {
    if (arr == null || arr.isNull) return
    if (!arr.isArray)
      throw new IllegalArgumentException(s"auction '$tpe' is not an array")
    val it = arr.elements()
    while (it.hasNext) {
      val p = it.next()
      val cond = p.get("c")
      out += InternalRow(
        utf8(symbol),
        dateUs,
        utf8(tpe),
        isoMicros(p, "t"),
        utf8(reqNode(p, "x").asText()),
        dbl(p, "p"),
        lng(p, "s"),
        utf8(if (cond == null || cond.isNull) "" else cond.asText()))
    }
  }

  /** All prints of one daily record, validated as a unit. */
  def parseMulti(symbol: String, rec: JsonNode): Seq[InternalRow] = {
    val dRaw = reqNode(rec, "d").asText()
    val dateUs = AlpacaOptions.parseIsoMicros(dRaw).getOrElse(
      throw new IllegalArgumentException(s"bad date '$dRaw' in 'd'"))
    val rows = new scala.collection.mutable.ArrayBuffer[InternalRow](4)
    printRows(symbol, dateUs, "O", rec.get("o"), rows)
    printRows(symbol, dateUs, "C", rec.get("c"), rows)
    rows.toSeq
  }

  /** Single-row parse is meaningless for a fan-out record; the readers
    * only ever call [[parseStreamMulti]]. */
  override def parse(symbol: String, rec: JsonNode): InternalRow =
    throw new UnsupportedOperationException(
      "AuctionParser is multi-row; use parseStreamMulti")

  override def parseStreamMulti(symbol: String,
      jp: com.fasterxml.jackson.core.JsonParser,
      out: InternalRow => Unit): Unit = {
    // readValueAsTree consumes the subtree and leaves the stream ON
    // the record's END_OBJECT, so a validation failure after it is
    // already realigned for the caller's warn+skip.
    val node = jp.readValueAsTree[JsonNode]()
    parseMulti(symbol, node).foreach(out)
  }
}

/** Snapshot record: the symbol's OBJECT value (the one record-is-an-
  * object envelope in the API) with five optional nested sections,
  * flattened to one wide row. DOM parse — one record per symbol per
  * scan, nothing hot. A present section with a malformed required
  * field fails the whole record (atomic E4 skip); an ABSENT section
  * is legitimate (new listing has no prevDailyBar) and nulls its
  * columns. */
object SnapshotParser extends RecordParser {
  override val schema: StructType = Schemas.snapshots

  override def parse(symbol: String, rec: JsonNode): InternalRow = {
    def section(key: String): Option[JsonNode] = {
      val n = rec.get(key)
      if (n == null || n.isNull) None
      else if (!n.isObject)
        throw new IllegalArgumentException(s"snapshot '$key' is not an object")
      else Some(n)
    }
    val lt = section("latestTrade")
    val lq = section("latestQuote")
    val mb = section("minuteBar")
    val db = section("dailyBar")
    val pd = section("prevDailyBar")
    def ts(o: Option[JsonNode]): Any = o.map(isoMicros(_, "t")).orNull
    def d(o: Option[JsonNode], k: String): Any = o.map(dbl(_, k)).orNull
    def l(o: Option[JsonNode], k: String): Any = o.map(lng(_, k)).orNull
    InternalRow(
      utf8(symbol),
      ts(lt), d(lt, "p"), l(lt, "s"),
      ts(lq), d(lq, "bp"), l(lq, "bs"), d(lq, "ap"), l(lq, "as"),
      ts(mb), d(mb, "c"), l(mb, "v"),
      ts(db), d(db, "o"), d(db, "h"), d(db, "l"), d(db, "c"), l(db, "v"),
      d(pd, "c"))
  }
}

/** Latest-orderbook record (v1beta3 `/crypto/us/latest/orderbooks`):
  * the symbol's OBJECT value carries `t` and two arrays of
  * `{p, s}` depth levels; flattened to one row per level with the
  * 1-based position from the top of book — the second fan-out record
  * shape after auctions, and like them the whole record validates
  * before the first row is emitted (atomic E4 skip). Either side may
  * be absent or empty (one-sided books happen around halts); levels
  * keep ARRAY ORDER (the venue's price-priority order) rather than
  * re-sorting client-side. */
object OrderbookParser extends RecordParser {
  override val schema: StructType = Schemas.orderbooks

  private def levelRows(symbol: String, timeUs: Long, side: String,
      arr: JsonNode, out: scala.collection.mutable.ArrayBuffer[InternalRow]): Unit = {
    if (arr == null || arr.isNull) return
    if (!arr.isArray)
      throw new IllegalArgumentException(s"orderbook '$side' is not an array")
    val it = arr.elements()
    var level = 1
    while (it.hasNext) {
      val p = it.next()
      out += InternalRow(
        utf8(symbol), timeUs, utf8(side), level, dbl(p, "p"), dbl(p, "s"))
      level += 1
    }
  }

  def parseMulti(symbol: String, rec: JsonNode): Seq[InternalRow] = {
    val timeUs = isoMicros(rec, "t")
    val rows = new scala.collection.mutable.ArrayBuffer[InternalRow](16)
    levelRows(symbol, timeUs, "B", rec.get("b"), rows)
    levelRows(symbol, timeUs, "A", rec.get("a"), rows)
    rows.toSeq
  }

  override def parse(symbol: String, rec: JsonNode): InternalRow =
    throw new UnsupportedOperationException(
      "OrderbookParser is multi-row; use parseStreamMulti")

  override def parseStreamMulti(symbol: String,
      jp: com.fasterxml.jackson.core.JsonParser,
      out: InternalRow => Unit): Unit = {
    val node = jp.readValueAsTree[JsonNode]()
    parseMulti(symbol, node).foreach(out)
  }
}

/** Option-snapshot record: `impliedVolatility` scalar + nested
  * `greeks`/`latestQuote`/`latestTrade` objects → one wide row.
  * Absent sections are legitimate (new contracts have no greeks,
  * untraded ones no latestTrade) and null their columns; a PRESENT
  * section with a malformed required field fails the record (atomic
  * E4 skip). */
object OptionSnapshotParser extends RecordParser {
  override val schema: StructType = Schemas.optionSnapshots

  override def parse(symbol: String, rec: JsonNode): InternalRow = {
    def section(key: String): Option[JsonNode] = {
      val n = rec.get(key)
      if (n == null || n.isNull) None
      else if (!n.isObject)
        throw new IllegalArgumentException(s"option snapshot '$key' is not an object")
      else Some(n)
    }
    val greeks = section("greeks")
    val lq = section("latestQuote")
    val lt = section("latestTrade")
    val ivNode = rec.get("impliedVolatility")
    val iv: Any =
      if (ivNode == null || ivNode.isNull) null
      else if (ivNode.isNumber) ivNode.asDouble()
      else throw new IllegalArgumentException("bad double in 'impliedVolatility'")
    def d(o: Option[JsonNode], k: String): Any = o.map(dbl(_, k)).orNull
    def l(o: Option[JsonNode], k: String): Any = o.map(lng(_, k)).orNull
    InternalRow(
      utf8(symbol),
      iv,
      d(greeks, "delta"), d(greeks, "gamma"), d(greeks, "theta"),
      d(greeks, "vega"), d(greeks, "rho"),
      d(lq, "bp"), d(lq, "ap"),
      d(lt, "p"), l(lt, "s"))
  }
}

/** Screener records carry their OWN symbol field — the passed-in
  * symbol is the partition's (empty for market-wide requests) and is
  * ignored. */
object MostActivesParser extends RecordParser {
  override val schema: StructType = Schemas.mostActives
  override def parse(symbol: String, rec: JsonNode): InternalRow =
    InternalRow(
      utf8(reqNode(rec, "symbol").asText()),
      lng(rec, "volume"),
      lng(rec, "trade_count"))
}

object MoverParser extends RecordParser {
  override val schema: StructType = Schemas.movers
  override def parse(symbol: String, rec: JsonNode): InternalRow =
    InternalRow(
      utf8(reqNode(rec, "symbol").asText()),
      dbl(rec, "percent_change"),
      dbl(rec, "change"),
      dbl(rec, "price"))
}

/** Crypto snapshot record: the stock snapshot's five-section flatten
  * with crypto field types (fractional sizes, no venues). Absent
  * sections null their columns; a present-but-broken section fails
  * the record (atomic E4 skip). */
object CryptoSnapshotParser extends RecordParser {
  override val schema: StructType = Schemas.cryptoSnapshots

  override def parse(symbol: String, rec: JsonNode): InternalRow = {
    def section(key: String): Option[JsonNode] = {
      val n = rec.get(key)
      if (n == null || n.isNull) None
      else if (!n.isObject)
        throw new IllegalArgumentException(s"snapshot '$key' is not an object")
      else Some(n)
    }
    val lt = section("latestTrade")
    val lq = section("latestQuote")
    val mb = section("minuteBar")
    val db = section("dailyBar")
    val pd = section("prevDailyBar")
    def ts(o: Option[JsonNode]): Any = o.map(isoMicros(_, "t")).orNull
    def d(o: Option[JsonNode], k: String): Any = o.map(dbl(_, k)).orNull
    def l(o: Option[JsonNode], k: String): Any = o.map(lng(_, k)).orNull
    InternalRow(
      utf8(symbol),
      ts(lt), d(lt, "p"), d(lt, "s"),
      ts(lq), d(lq, "bp"), d(lq, "bs"), d(lq, "ap"), d(lq, "as"),
      ts(mb), d(mb, "c"), l(mb, "v"),
      ts(db), d(db, "o"), d(db, "h"), d(db, "l"), d(db, "c"), l(db, "v"),
      d(pd, "c"))
  }
}
