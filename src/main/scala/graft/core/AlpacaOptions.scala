package graft.core

import java.time.{Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** One accepted API option (reference: `common.py:45-50`). */
case class ApiParam(name: String, required: Boolean)

/** Endpoint/auth configuration (reference: `common.py:35-43`).
  * `timeoutSec`/`maxRetries` are the reference's DOCUMENTED-but-never-
  * implemented global options (USAGE.md:74-75 promises both; the code
  * hardcodes `timeout=(10.0, 30.0)` and `MAX_RETRIES = 3`,
  * `common.py:25,126`) — here they are real. */
case class EndpointConfig(
    apiKeyId: String,
    apiKeySecret: String,
    endpoint: String,
    rateLimitDelaySec: Double,
    timeoutSec: Double = AlpacaOptions.DefaultTimeoutSec,
    maxRetries: Int = AlpacaHttpClient.MaxRetries,
    rateLimitRps: Double = 0.0)

object AlpacaOptions {
  /** reference: `common.py:23-24` */
  val DefaultEndpoint = "https://data.alpaca.markets/v2"

  /** Normalizes an endpoint to its version-less base by stripping one
    * trailing API-version segment (`/v2`, `/v1beta3`, ...). The default
    * endpoint keeps the reference's `/v2` suffix for option-contract
    * parity, but each source supplies its own version segment
    * (crypto is `/v1beta3` while stocks/options are `/v2`), so the
    * version is re-attached per source at URL-build time. Endpoints
    * with no version suffix (e.g. a proxy base URL) pass through. */
  def stripApiVersion(endpoint: String): String = {
    val trimmed = endpoint.stripSuffix("/")
    trimmed.replaceAll("/v\\d+[a-z0-9]*$", "")
  }
  val DefaultLimit = 10000

  /** The API's documented per-page maximum (USAGE.md:48: "maximum:
    * 10000"). The server silently truncates larger requests to this,
    * which would skew the volume-aware partition sizing that divides
    * by `limit` — so the load-time clamp keeps the planner's `limit`
    * equal to the page size the server will actually use. */
  val MaxLimit = 10000

  /** Read timeout default, matching the reference's hardcoded
    * `timeout=(10.0, 30.0)` read half (`common.py:126`). */
  val DefaultTimeoutSec = 30.0

  val ConfigOptionNames: Seq[String] =
    Seq("endpoint", "APCA-API-KEY-ID", "APCA-API-SECRET-KEY", "rate_limit_delay",
      "timeout", "retries", // USAGE.md:74-75 globals, implemented here
      "stream_step", // streaming micro-batch step, not an API param
      "cluster_by_symbol", // report KeyGroupedPartitioning(symbol) from the scan
      "symbol_batch", // symbols per HTTP request (multi-symbol batching)
      "rate_limit_rps", // shared per-executor request budget
      "integrity_checks") // scan-integrity invariants (default true)

  /** Builds the endpoint config, requiring both API keys
    * (reference: `common.py:218-232`). Keys are matched
    * case-insensitively (Spark lowercases DSv2 option keys). */
  def endpointConfig(options: Map[String, String]): EndpointConfig = {
    val lower = options.map { case (k, v) => k.toLowerCase -> v }
    def req(name: String): String = lower.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(s"$name not provided"))
    EndpointConfig(
      req("APCA-API-KEY-ID"),
      req("APCA-API-SECRET-KEY"),
      lower.getOrElse("endpoint", DefaultEndpoint),
      lower.get("rate_limit_delay").map(_.toDouble).getOrElse(0.0),
      timeoutSec = lower.get("timeout").map { v =>
        val t = try v.toDouble catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"Invalid 'timeout' option: '$v' is not a number of seconds")
        }
        if (t <= 0) throw new IllegalArgumentException(
          s"Invalid 'timeout' option: must be positive, got '$v'")
        t
      }.getOrElse(DefaultTimeoutSec),
      maxRetries = lower.get("retries").map { v =>
        val r = try v.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"Invalid 'retries' option: '$v' is not an integer")
        }
        if (r < 0) throw new IllegalArgumentException(
          s"Invalid 'retries' option: must be >= 0, got '$v'")
        r
      }.getOrElse(AlpacaHttpClient.MaxRetries),
      rateLimitRps = lower.get("rate_limit_rps").map { v =>
        val r = try v.toDouble catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"Invalid 'rate_limit_rps' option: '$v' is not a number")
        }
        if (r < 0) throw new IllegalArgumentException(
          s"Invalid 'rate_limit_rps' option: must be non-negative, got '$v'")
        r
      }.getOrElse(0.0))
  }

  /** Clamps a requested page size to [[MaxLimit]] with a warning
    * (fail-fast on non-positive). The reference passes oversized
    * limits straight to the server (`common.py:356-358`), which
    * truncates silently — its partition sizing then believes pages
    * are bigger than they are. */
  def clampLimit(raw: Int): Int = {
    if (raw <= 0) throw new IllegalArgumentException(
      s"Invalid 'limit' option: must be positive, got $raw")
    if (raw > MaxLimit) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"limit $raw exceeds the API's documented page-size maximum $MaxLimit; " +
          s"clamping (the server would silently truncate to $MaxLimit)")
      MaxLimit
    } else raw
  }

  /** Parses the `integrity_checks` config option: scan-integrity
    * invariants (independent page record-count cross-check +
    * per-symbol instant monotonicity) on the flat time-series sources.
    * Default TRUE — a transient scan-layer fault must fail the task
    * loudly, not skew sums downstream; the off switch exists for
    * endpoints that legitimately violate ordered delivery. */
  def parseIntegrityChecks(opts: Map[String, String]): Boolean =
    opts.collectFirst {
      case (k, v) if k.equalsIgnoreCase("integrity_checks") =>
        v.trim.toLowerCase match {
          case "true" => true
          case "false" => false
          case other => throw new IllegalArgumentException(
            s"Invalid 'integrity_checks' option: '$other' is not a boolean")
        }
    }.getOrElse(true)

  /** Parses + validates the `symbol_batch` config option (symbols per
    * HTTP request, SURVEY-beyond: multi-symbol batching); 1 when
    * absent. Rejects the `cluster_by_symbol` combination — batched
    * partitions are not symbol-pure, so the scan could not honestly
    * report KeyGroupedPartitioning(symbol). */
  def parseSymbolBatch(opts: Map[String, String]): Int = {
    val n = opts.collectFirst {
      case (k, v) if k.equalsIgnoreCase("symbol_batch") =>
        val parsed = try v.trim.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"Invalid 'symbol_batch' option: '$v' is not an integer")
        }
        if (parsed < 1) throw new IllegalArgumentException(
          s"Invalid 'symbol_batch' option: must be >= 1, got $parsed")
        parsed
    }.getOrElse(1)
    val clustered = opts.collectFirst {
      case (k, v) if k.equalsIgnoreCase("cluster_by_symbol") => v.trim.toBoolean
    }.getOrElse(false)
    if (n > 1 && clustered)
      throw new IllegalArgumentException(
        "'symbol_batch' > 1 and 'cluster_by_symbol' are mutually exclusive: " +
          "batched partitions are not symbol-pure, so the scan cannot report " +
          "KeyGroupedPartitioning(symbol)")
    n
  }

  /** Required-option check + unknown-option warning + symbols/start/end
    * validation (reference: `common.py:234-288`). Returns only the
    * param-related options, keyed by their canonical param name. */
  def validateParams(
      options: Map[String, String],
      apiParams: Seq[ApiParam]): Map[String, String] = {
    val lower = options.map { case (k, v) => k.toLowerCase -> v }
    def get(name: String): Option[String] = lower.get(name.toLowerCase)

    val missing = apiParams.filter(_.required)
      .map(_.name).filter(n => get(n).forall(_.isEmpty))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"Missing required options: ${missing.mkString(", ")}")

    val expected = (apiParams.map(_.name) ++ ConfigOptionNames).map(_.toLowerCase).toSet ++
      Set("paths", "path") // Spark-internal keys that may ride along
    val unexpected = lower.keys.filterNot(expected.contains)
    if (unexpected.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"Unexpected options: ${unexpected.mkString(", ")}")

    get("symbols").foreach { s =>
      if (parseSymbols(s).isEmpty)
        throw new IllegalArgumentException(s"Symbols must be a non-empty list: '$s'")
    }
    // start is de-facto required: the reference unconditionally
    // ISO-parses it (common.py:269-285), so absence fails there too.
    // 'end' may be OMITTED for live streaming (readStream without a
    // fixed end — each trigger clamps to the wall clock instead); when
    // present it must parse and order, and batch reads without it fail
    // at partition-planning time with a named error. Timeless sources
    // (snapshots) declare NO start param at all — nothing to enforce.
    if (apiParams.exists(_.name == "start")) {
      val startRaw = get("start").getOrElse("")
      val startT = parseIsoMicros(startRaw).getOrElse(throw new IllegalArgumentException(
        s"Invalid 'start' option: '$startRaw' is not a valid ISO format datetime"))
      get("end").foreach { endRaw =>
        val endT = parseIsoMicros(endRaw).getOrElse(throw new IllegalArgumentException(
          s"Invalid 'end' option: '$endRaw' is not a valid ISO format datetime"))
        if (startT > endT) throw new IllegalArgumentException(s"start time is after end time")
      }
    }

    apiParams.flatMap(p => get(p.name).map(p.name -> _)).toMap
  }

  /** Parses the `symbols` option. The reference accepts Python-literal
    * list strings via ast.literal_eval (`common.py:252-267`); we accept
    * that syntax plus JSON arrays and plain CSV (documented deviation,
    * SURVEY §7.5.3). */
  def parseSymbols(raw: String): Seq[String] =
    raw.trim.stripPrefix("[").stripPrefix("(").stripSuffix("]").stripSuffix(")")
      .split(",")
      .map(_.trim.stripPrefix("'").stripSuffix("'").stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty)
      .toSeq

  /** ISO-8601 → epoch micros (UTC), mirroring Python's
    * `datetime.fromisoformat` acceptance (offset, Z, naive datetime,
    * date-only) with Arrow's µs truncation. Naive values are treated
    * as UTC, matching `pa.timestamp("us", tz="UTC")` semantics. */
  def parseIsoMicros(s: String): Option[Long] = {
    val t = s.trim
    val fast = isoMicrosFast(t.toCharArray, 0, t.length)
    if (fast != NotFast) return Some(fast)
    def toMicros(i: Instant): Long =
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
    try Some(toMicros(OffsetDateTime.parse(t).toInstant))
    catch { case _: Exception =>
      try Some(toMicros(LocalDateTime.parse(t).toInstant(ZoneOffset.UTC)))
      catch { case _: Exception =>
        try Some(toMicros(LocalDate.parse(t).atStartOfDay.toInstant(ZoneOffset.UTC)))
        catch { case _: Exception => None }
      }
    }
  }

  /** [[isoMicrosFast]]'s answer for anything but its wire shapes. */
  final val NotFast = Long.MinValue
  private val UtcOffset = "+00:00".toCharArray

  /** Parse of the overwhelmingly-common wire shapes
    * `YYYY-MM-DDTHH:MM:SS[.f{1..6}](Z|+00:00)` (every timestamp the
    * API emits and this library formats) in `c[off, off + len)`, or
    * [[NotFast]]. java.time's general parser costs ~1 µs per call,
    * which is material at millions of records; this digit walk is
    * tens of ns, and over chars the record walk reads straight from
    * its JSON parser, no String is built. */
  def isoMicrosFast(c: Array[Char], off: Int, len: Int): Long = {
    def at(i: Int): Char = c(off + i)
    if (len < 19 || at(4) != '-' || at(7) != '-' ||
      (at(10) != 'T' && at(10) != ' ') ||
      at(13) != ':' || at(16) != ':') return NotFast
    def d2(i: Int): Int = {
      val a = at(i) - '0'; val b = at(i + 1) - '0'
      if (a < 0 || a > 9 || b < 0 || b > 9) -1 else a * 10 + b
    }
    val y1 = d2(0); val y2 = d2(2)
    val mo = d2(5); val da = d2(8)
    val hh = d2(11); val mi = d2(14); val ss = d2(17)
    if (y1 < 0 || y2 < 0 || mo < 1 || mo > 12 || da < 1 || da > 31 ||
      hh < 0 || hh > 23 || mi < 0 || mi > 59 || ss < 0 || ss > 59) return NotFast
    val year = y1 * 100 + y2
    var i = 19
    var frac = 0L
    if (i < len && at(i) == '.') {
      i += 1
      var digits = 0
      while (i < len && digits < 6 && at(i) >= '0' && at(i) <= '9') {
        frac = frac * 10 + (at(i) - '0'); i += 1; digits += 1
      }
      if (digits == 0) return NotFast
      while (digits < 6) { frac *= 10; digits += 1 }
      // >6 fractional digits (nanos): not our wire format — fall back
      if (i < len && at(i) >= '0' && at(i) <= '9') return NotFast
    }
    if (i < len && !(len - i == 1 && at(i) == 'Z') &&
      !java.util.Arrays.equals(c, off + i, off + len, UtcOffset, 0, UtcOffset.length)) return NotFast
    try {
      val epochDay = java.time.LocalDate.of(year, mo, da).toEpochDay
      ((epochDay * 86400L + hh * 3600L + mi * 60L + ss) * 1000000L) + frac
    } catch { case _: java.time.DateTimeException => NotFast } // e.g. Feb 30
  }

  /** Epoch micros → ISO-8601 UTC string (`yyyy-MM-ddTHH:mm:ss.SSSSSS+00:00`,
    * byte-identical to the DateTimeFormatter pattern
    * `yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx` at UTC it replaces). Manual digit
    * write: the formatter costs ~1 µs per call and this is on the
    * fixture-render and record-parse hot paths. */
  def microsToIso(micros: Long): String = {
    val secs = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L)
    val epochDay = Math.floorDiv(secs, 86400L)
    val secOfDay = Math.floorMod(secs, 86400L).toInt
    val date = java.time.LocalDate.ofEpochDay(epochDay)
    val sb = new java.lang.StringBuilder(32)
    def pad(v: Int, w: Int): Unit = {
      var div = 1
      var i = 1
      while (i < w) { div *= 10; i += 1 }
      while (div > 0) { sb.append(('0' + (v / div % 10)).toChar); div /= 10 }
    }
    pad(date.getYear, 4); sb.append('-')
    pad(date.getMonthValue, 2); sb.append('-')
    pad(date.getDayOfMonth, 2); sb.append('T')
    pad(secOfDay / 3600, 2); sb.append(':')
    pad(secOfDay / 60 % 60, 2); sb.append(':')
    pad(secOfDay % 60, 2); sb.append('.')
    pad(frac.toInt, 6)
    sb.append("+00:00")
    sb.toString
  }
}

/** Bar timeframe grammar + trading-calendar approximations
  * (reference: `bars.py:38-73,100-113,161-187`). The 5-day week /
  * 20-day month approximations are load-bearing for partition sizing
  * and are replicated exactly (SURVEY §2.5 V4). */
object Timeframe {
  private val Micros = 1000000L
  private val MinuteUs = 60L * Micros
  private val HourUs = 60L * MinuteUs
  private val DayUs = 24L * HourUs

  private val pattern = "^(\\d+)([A-Za-z]+)$".r

  /** Parses e.g. "1Day", "5Min", "2Hours", "1W" → duration in µs. */
  def parseMicros(tf: String): Long = tf match {
    case pattern(num, rawUnit) =>
      val n = num.toLong
      val unit = {
        val u = rawUnit.toLowerCase
        if (u.endsWith("s") && u.length > 1) u.dropRight(1) else u
      }
      val unitUs = unit match {
        case "min" | "minute" | "t" => MinuteUs
        case "h" | "hour" => HourUs
        case "d" | "day" => DayUs
        case "w" | "week" => 5L * DayUs // trading week ≈ 5 days
        case "m" | "month" => 20L * DayUs // trading month ≈ 20 days
        case other => throw new IllegalArgumentException(s"Unknown time unit: $other")
      }
      Math.multiplyExact(n, unitUs)
    case _ => throw new IllegalArgumentException(s"Invalid timeframe format: $tf")
  }

  def validate(tf: String): Unit = parseMicros(tf)
}
