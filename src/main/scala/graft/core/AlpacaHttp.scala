package graft.core

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.slf4j.LoggerFactory

/** Pure, Spark-free HTTP/pagination core (the testable seam of
  * SURVEY §3.3). JDK-only: `java.net.http.HttpClient` + the Jackson
  * that ships with Spark.
  *
  * Mirrors the reference's fetch pipeline semantics:
  *  - URL building with encoded params, None values skipped
  *    (`common.py:62-87`)
  *  - connect timeout 10 s / read timeout 30 s (`common.py:126`);
  *    unlike the reference, the read timeout and retry count are
  *    CONFIGURABLE (`timeout`/`retries` — promised by its
  *    USAGE.md:74-75 but hardcoded in its code)
  *  - retry on HTTP 429/500/502/503/504 with exponential backoff
  *    0.5s/1s/2s, GET only (`common.py:139-163`)
  *  - pagination over `next_page_token` (`common.py:166-205`)
  *  - optional inter-page rate-limit sleep (`common.py:203-205`)
  */
class AlpacaHttpClient(
    endpoint: String,
    headers: Map[String, String],
    pathElements: Seq[String],
    maxRetries: Int = AlpacaHttpClient.MaxRetries,
    readTimeoutSec: Double = AlpacaOptions.DefaultTimeoutSec,
    rateLimitRps: Double = 0.0) {

  private val log = LoggerFactory.getLogger(getClass)
  // JVM-shared: a new HttpClient per partition would open fresh TCP
  // connections for every task (one executor runs thousands of tasks
  // over a scan); the shared client's keep-alive pool reuses them.
  private def client = AlpacaHttpClient.sharedHttpClient
  private val mapper = new ObjectMapper()

  def buildUrl(params: Seq[(String, String)]): String = {
    val path = pathElements.mkString("/")
    val qs = params.collect { case (k, v) if v != null =>
      s"$k=${URLEncoder.encode(v, StandardCharsets.UTF_8).replace("+", "%20")}"
    }.mkString("&")
    s"$endpoint/$path?$qs"
  }

  /** Fetches one page as raw UTF-8 bytes; retries retryable statuses
    * with backoff, fails the (Spark) task on anything else — task
    * retry covers the rest. Bytes (not String) so the JSON layer can
    * stream-parse without a 2× char-decode pass. */
  def getPageBytes(params: Seq[(String, String)], pageToken: Option[String]): Array[Byte] = {
    val url = buildUrl(params ++ pageToken.map("page_token" -> _))
    var attempt = 0
    while (true) {
      // every attempt (retries included) draws from the shared budget
      if (rateLimitRps > 0)
        AlpacaHttpClient.pacerFor(endpoint, rateLimitRps).acquire()
      val builder = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofMillis(math.max(1L, (readTimeoutSec * 1000).toLong)))
        .GET()
      headers.foreach { case (k, v) => builder.header(k, v) }
      val response =
        try client.send(builder.build(), HttpResponse.BodyHandlers.ofByteArray())
        catch {
          case e: java.io.IOException =>
            throw new RuntimeException(s"Network request failed: ${e.getMessage}", e)
        }
      val code = response.statusCode()
      if (code >= 200 && code < 300) {
        val body = response.body()
        // HTTP 200 with an empty body is a malformed API response, not
        // "no data" (the API's empty page is an explicit JSON envelope
        // with an empty data map). Silently treating it as empty would
        // turn a broken proxy/server into missing rows — fail the page
        // (task retry covers transient causes), mirroring the
        // reference's record-skip vs page-fail asymmetry
        // (common.py:484-486: only RECORD-level damage is skippable).
        // Scoped to 200 only: a 204 No Content is empty BY DEFINITION,
        // but this GET-a-page API never legitimately returns one — a
        // 204 here means a misbehaving middlebox ate the envelope, so
        // it fails with its own message rather than the generic
        // "malformed" one (and other empty 2xx follow the 200 rule).
        if (code == 204)
          throw new RuntimeException(
            s"HTTP 204 No Content for $url — this endpoint always returns a " +
              "JSON envelope; a 204 indicates a broken proxy or gateway")
        if (body.isEmpty)
          throw new RuntimeException(
            s"HTTP $code with empty body for $url — malformed API response")
        return body
      } else if (AlpacaHttpClient.RetryStatuses.contains(code) && attempt < maxRetries) {
        // the server's own Retry-After (seconds form; the rate-limit
        // reply the real API sends on 429) takes precedence over the
        // client's guess — clamped into [0, 2 min] like the
        // exponential path, so a hostile/buggy header can neither
        // park the task for hours nor go negative
        val retryAfterMs: Option[Long] = {
          val h = response.headers().firstValue("Retry-After")
          if (h.isPresent)
            h.get.trim.toLongOption // seconds form only; HTTP-date falls back
              .map(s => math.min(math.max(0L, s) * 1000L, 120000L))
          else None
        }
        // 0.5s, 1s, 2s, … capped at 2 min: `retries` is user-settable
        // now, and an uncapped shift both over-sleeps (retries=30 →
        // multi-day waits) and overflows negative past attempt 62
        // (Thread.sleep would throw instead of retrying)
        val backoffMs = retryAfterMs.getOrElse(
          math.min(500L << math.min(attempt, 8), 120000L))
        log.warn(s"HTTP $code for $url; retry ${attempt + 1}/$maxRetries in ${backoffMs}ms" +
          retryAfterMs.fold("")(_ => " (server Retry-After)"))
        Thread.sleep(backoffMs)
        attempt += 1
      } else {
        throw new RuntimeException(
          s"HTTP error $code for $url: ${new String(response.body(), StandardCharsets.UTF_8).take(500)}")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** DOM variant of getPageBytes (diagnostics + small responses). */
  def getPage(params: Seq[(String, String)], pageToken: Option[String]): JsonNode =
    mapper.readTree(getPageBytes(params, pageToken))

  private def pageToken(pg: JsonNode): Option[String] =
    Option(pg.get("next_page_token"))
      .filter(n => !n.isNull)
      .map(_.asText())
      .filter(_.nonEmpty)

  /** Lazy page iterator: yields each page's JSON while a
    * `next_page_token` is present.
    *
    * With no rate-limit delay, the NEXT page's HTTP request is issued
    * asynchronously as soon as the current page's JSON arrives, so
    * network/server time overlaps the consumer's parse time (the
    * multi-page chain is each partition's critical path; the reference
    * fetches strictly sequentially, `common.py:166-205`). One page of
    * lookahead bounds buffered memory at a single response body. When
    * `rateLimitDelaySec` is configured, pagination stays strictly
    * sequential so the inter-page sleep keeps its meaning (H5). */
  def fetchAllPages(
      params: Seq[(String, String)],
      rateLimitDelaySec: Double = 0.0): Iterator[JsonNode] =
    fetchAllPagesBytes(params, rateLimitDelaySec).map(b => mapper.readTree(b))

  /** Raw-bytes pagination. The consumer stream-parses each page; the
    * `next_page_token` needed to chain requests comes from a byte-level
    * skim ([[AlpacaHttpClient.skimPage]]), so the full parse stays on
    * the consumer's side of the pipeline. */
  def fetchAllPagesBytes(
      params: Seq[(String, String)],
      rateLimitDelaySec: Double = 0.0): Iterator[Array[Byte]] =
    fetchAllPagesCounted(params, rateLimitDelaySec).map(_.bytes)

  /** Pagination with the skim's independent per-page record count
    * attached (see [[AlpacaHttpClient.skimPage]]) — the readers' scan-integrity
    * cross-check consumes this form. */
  def fetchAllPagesCounted(
      params: Seq[(String, String)],
      rateLimitDelaySec: Double = 0.0): Iterator[AlpacaHttpClient.FetchedPage] =
    if (rateLimitDelaySec > 0)
      new Iterator[AlpacaHttpClient.FetchedPage] {
        private var numPages = 0
        private var nextToken: Option[String] = None
        private val seen = new TokenCycleGuard
        override def hasNext: Boolean = numPages < 1 || nextToken.isDefined
        override def next(): AlpacaHttpClient.FetchedPage = {
          if (numPages > 0)
            Thread.sleep((rateLimitDelaySec * 1000).toLong)
          val pg = getPageBytes(params, nextToken)
          numPages += 1
          val (tok, count) = AlpacaHttpClient.skimPage(pg)
          nextToken = tok
          nextToken.foreach(seen.check)
          AlpacaHttpClient.FetchedPage(pg, count)
        }
      }
    else
      new Iterator[AlpacaHttpClient.FetchedPage] {
        private var inFlight: java.util.concurrent.CompletableFuture[(Array[Byte], Option[String], Long)] = _
        private var done = false
        private val seen = new TokenCycleGuard
        private def submit(tok: Option[String]): Unit =
          inFlight = java.util.concurrent.CompletableFuture.supplyAsync(
            () => {
              val b = getPageBytes(params, tok)
              val (nxt, count) = AlpacaHttpClient.skimPage(b)
              (b, nxt, count)
            },
            AlpacaHttpClient.prefetchPool)
        override def hasNext: Boolean = !done
        override def next(): AlpacaHttpClient.FetchedPage = {
          if (inFlight == null) submit(None)
          val (bytes, tok, count) =
            try inFlight.join()
            catch {
              case e: java.util.concurrent.CompletionException =>
                throw Option(e.getCause).getOrElse(e)
            }
          tok match {
            case some @ Some(t) =>
              seen.check(t)
              submit(some)
            case None => done = true
          }
          AlpacaHttpClient.FetchedPage(bytes, count)
        }
      }

  /** A server that re-issues a `next_page_token` it already served
    * would page forever (the reference's loop has the same hang,
    * `common.py:166-205`). Tokens within one partition's pagination are
    * tracked and a repeat fails the page chain loudly. Memory is one
    * small string per page actually fetched — bounded by the data the
    * partition legitimately reads. */
  private final class TokenCycleGuard {
    private val seen = scala.collection.mutable.HashSet[String]()
    def check(token: String): Unit =
      if (!seen.add(token))
        throw new RuntimeException(
          s"pagination cycle: next_page_token '$token' repeated — " +
            "aborting page chain (server paging bug would loop forever)")
  }
}

object AlpacaHttpClient {
  /** One fetched API page: raw body + the skim's independent count of
    * array-parented record objects (see `skimPage`). */
  final case class FetchedPage(bytes: Array[Byte], arrayRecordCount: Long)

  /** Skim of one page for its `next_page_token` plus an independent
    * record count: one byte scan over the structure, no tokenizer.
    * The count is the number of objects whose immediate parent is an
    * ARRAY; for the flat-record array-envelope sources (bars, trades,
    * quotes) that is the page's record count, computed apart from the
    * consumer's record walk. The scan-integrity check compares the
    * two, so a walk that drops or duplicates records fails the task
    * instead of silently skewing aggregates.
    *
    * The scan fails the page on an unterminated string or an
    * unbalanced page ("Unexpected end-of-input"), a mismatched
    * bracket, a comma, colon or value out of JSON order, a scalar that
    * is not a JSON number or literal, a bad escape, a raw control
    * character in a string, nesting deeper than 64 levels, and
    * anything but whitespace after the top-level value. String bytes
    * are not checked for UTF-8; the consumer's Jackson walk reads every
    * byte of the top-level object and checks them there.
    *
    * It runs on the prefetch thread, overlapped with the consumer's
    * decode of the previous page — except on a partition's first page,
    * which the consumer waits for — and its CPU competes with decoding
    * when a scan's tasks and prefetch threads fill the cores. */
  private[graft] def skimPage(b: Array[Byte]): (Option[String], Long) = {
    import Skim._
    val n = b.length
    var i = if (n >= 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte && b(2) == 0xBF.toByte) 3 else 0
    var state = Value
    // container stack: bit d set = nesting level d is an ARRAY
    var depth = 0
    var arrayBits = 0L // API pages nest ≤6 deep; 64 is headroom
    var count = 0L
    var tok: Option[String] = None
    var tokenNext = false // the value ahead is the top-level next_page_token's
    var keyStart = 0; var keyEnd = 0 // the last depth-1 key, quotes included
    while (i < n) {
      (Cls(b(i) & 0xff).toInt: @annotation.switch) match {
        case Ws => i += 1
        case Quote =>
          val isKey = state == KeyOrClose || state == Key
          if (!isKey && state != Value && state != ValueOrClose) unexpected(b, i, state)
          val s = i
          i = stringEnd(b, s)
          if (isKey) {
            if (depth == 1) { keyStart = s; keyEnd = i }
            state = Colon
          } else {
            if (tokenNext) {
              val t = jsonString(b, s, i)
              tok = if (t.isEmpty) None else Some(t)
            }
            tokenNext = false
            state = if (depth == 0) Done else CommaOrClose
          }
        case OpenObj =>
          if (state != Value && state != ValueOrClose) unexpected(b, i, state)
          if (depth > 0 && ((arrayBits >> (depth - 1)) & 1L) == 1L) count += 1
          if (depth >= 64) throw tooDeep
          arrayBits &= ~(1L << depth); depth += 1
          tokenNext = false
          state = KeyOrClose; i += 1
        case OpenArr =>
          if (state != Value && state != ValueOrClose) unexpected(b, i, state)
          if (depth >= 64) throw tooDeep
          arrayBits |= 1L << depth; depth += 1
          tokenNext = false
          state = ValueOrClose; i += 1
        case CloseObj =>
          if (state != KeyOrClose &&
              (state != CommaOrClose || ((arrayBits >> (depth - 1)) & 1L) == 1L))
            unexpected(b, i, state)
          depth -= 1
          state = if (depth == 0) Done else CommaOrClose; i += 1
        case CloseArr =>
          if (state != ValueOrClose &&
              (state != CommaOrClose || ((arrayBits >> (depth - 1)) & 1L) == 0L))
            unexpected(b, i, state)
          depth -= 1
          state = if (depth == 0) Done else CommaOrClose; i += 1
        case ColonCls =>
          if (state != Colon) unexpected(b, i, state)
          tokenNext = depth == 1 && isTokenKey(b, keyStart, keyEnd)
          state = Value; i += 1
        case Comma =>
          if (state != CommaOrClose) unexpected(b, i, state)
          state = if (((arrayBits >> (depth - 1)) & 1L) == 1L) Value else Key; i += 1
        case _ => // a number or literal
          if (state != Value && state != ValueOrClose) unexpected(b, i, state)
          i = scalarEnd(b, i, depth)
          tokenNext = false
          state = if (depth == 0) Done else CommaOrClose
      }
    }
    if (state != Done)
      throw endOfInput(
        if (depth > 0) s"$depth unclosed container(s)" else "no JSON value in the page")
    (tok, count)
  }

  /** Tables and helpers of [[skimPage]]. */
  private object Skim {
    // grammar states: what the next token may be
    final val Value = 0 // a value (document start, after ':', after ',' in an array)
    final val ValueOrClose = 1 // after '['
    final val KeyOrClose = 2 // after '{'
    final val Key = 3 // after ',' in an object
    final val Colon = 4 // after a key
    final val CommaOrClose = 5 // after a value inside a container
    final val Done = 6 // after the top-level value: whitespace only

    // byte classes outside strings; 0 = a number or literal byte
    final val Ws = 1
    final val Quote = 2
    final val OpenObj = 3
    final val CloseObj = 4
    final val OpenArr = 5
    final val CloseArr = 6
    final val ColonCls = 7
    final val Comma = 8
    val Cls: Array[Byte] = {
      val t = new Array[Byte](256)
      Seq(' ', '\t', '\n', '\r').foreach(c => t(c) = Ws.toByte)
      t('"') = Quote.toByte
      t('{') = OpenObj.toByte; t('}') = CloseObj.toByte
      t('[') = OpenArr.toByte; t(']') = CloseArr.toByte
      t(':') = ColonCls.toByte; t(',') = Comma.toByte
      t
    }

    // bytes inside strings: 0 plain, 1 closing quote, 2 backslash, 3 control
    private val StrCls: Array[Byte] = {
      val t = new Array[Byte](256)
      (0 until 0x20).foreach(c => t(c) = 3)
      t('"') = 1; t('\\') = 2
      t
    }

    private val Literals = Array("true", "false", "null").map(_.getBytes(StandardCharsets.US_ASCII))
    private val TokenKey = "\"next_page_token\"".getBytes(StandardCharsets.US_ASCII)
    private val factory = new com.fasterxml.jackson.core.JsonFactory()

    /** Index past the closing quote of the string opened at `s`. */
    def stringEnd(b: Array[Byte], s: Int): Int = {
      val n = b.length
      var i = s + 1
      while (true) {
        while (i < n && StrCls(b(i) & 0xff) == 0) i += 1
        if (i >= n) throw endOfInput(s"in the string at byte $s")
        StrCls(b(i) & 0xff) match {
          case 1 => return i + 1
          case 2 => i = escapeEnd(b, i)
          case _ => throw new IllegalArgumentException(
            s"page JSON: unescaped control character in a string at byte $i")
        }
      }
      throw new IllegalStateException("unreachable")
    }

    /** Index past the escape sequence whose backslash is at `i`. */
    private def escapeEnd(b: Array[Byte], i: Int): Int = {
      if (i + 1 >= b.length) throw endOfInput(s"in the escape at byte $i")
      b(i + 1).toChar match {
        case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' => i + 2
        case 'u' =>
          if (i + 6 > b.length) throw endOfInput(s"in the escape at byte $i")
          var j = i + 2
          while (j < i + 6 && Character.digit(b(j).toInt, 16) >= 0) j += 1
          if (j < i + 6) throw new IllegalArgumentException(s"page JSON: bad \\u escape at byte $i")
          i + 6
        case _ => throw new IllegalArgumentException(s"page JSON: bad escape at byte $i")
      }
    }

    /** Index past the number or literal at `s`, which must end at a
      * delimiter or, at depth 0, at the end of the page. */
    def scalarEnd(b: Array[Byte], s: Int, depth: Int): Int = {
      val n = b.length
      val c = b(s)
      val e =
        if (c == '-' || (c >= '0' && c <= '9')) numberEnd(b, s)
        else {
          var j = s
          while (j < n && Cls(b(j) & 0xff) == 0) j += 1
          var k = 0
          while (k < Literals.length && !java.util.Arrays.equals(b, s, j, Literals(k), 0, Literals(k).length))
            k += 1
          if (k < Literals.length) j else -1
        }
      if (e < 0 || (e < n && Cls(b(e) & 0xff) == 0)) {
        var j = s
        while (j < n && Cls(b(j) & 0xff) == 0) j += 1
        if (j == n && depth > 0) throw endOfInput(s"in the value at byte $s")
        throw new IllegalArgumentException(
          s"page JSON: unrecognized token '${new String(b, s, math.min(j - s, 40),
            StandardCharsets.UTF_8)}' at byte $s")
      }
      if (e == n && depth > 0) throw endOfInput(s"in the value at byte $s")
      e
    }

    /** Index past the JSON number (`-? (0 | [1-9][0-9]*) (. [0-9]+)?
      * ([eE] [+-]? [0-9]+)?`) at `s`, or −1. */
    private def numberEnd(b: Array[Byte], s: Int): Int = {
      var j = s
      if (b(j) == '-') j += 1
      if (j < b.length && b(j) == '0') j += 1
      else if (isDigit(b, j)) j = digitsEnd(b, j + 1)
      else return -1
      if (j < b.length && b(j) == '.') {
        val d = digitsEnd(b, j + 1)
        if (d == j + 1) return -1
        j = d
      }
      if (j < b.length && (b(j) == 'e' || b(j) == 'E')) {
        j += 1
        if (j < b.length && (b(j) == '+' || b(j) == '-')) j += 1
        val d = digitsEnd(b, j)
        if (d == j) return -1
        j = d
      }
      j
    }

    private def isDigit(b: Array[Byte], j: Int): Boolean =
      j < b.length && b(j) >= '0' && b(j) <= '9'

    private def digitsEnd(b: Array[Byte], from: Int): Int = {
      var j = from
      while (isDigit(b, j)) j += 1
      j
    }

    /** Whether the quoted key `b[s, e)` is `next_page_token`. */
    def isTokenKey(b: Array[Byte], s: Int, e: Int): Boolean =
      java.util.Arrays.equals(b, s, e, TokenKey, 0, TokenKey.length) || {
        var j = s
        while (j < e && b(j) != '\\') j += 1
        j < e && jsonString(b, s, e) == "next_page_token" // an escaped spelling
      }

    /** The quoted JSON string `b[s, e)`, unescaped by Jackson. */
    def jsonString(b: Array[Byte], s: Int, e: Int): String = {
      val jp = factory.createParser(b, s, e - s)
      try { jp.nextToken(); jp.getText } finally jp.close()
    }

    def endOfInput(where: String) =
      new IllegalArgumentException(s"page JSON: Unexpected end-of-input $where")

    def tooDeep = new IllegalArgumentException("page JSON nested deeper than 64 levels")

    def unexpected(b: Array[Byte], i: Int, state: Int): Nothing =
      throw new IllegalArgumentException(
        if (state == Done) s"page JSON: trailing content after the top-level value at byte $i"
        else s"page JSON: unexpected '${(b(i) & 0xff).toChar}' at byte $i")
  }

  /** reference: `common.py:25,151-156` */
  val MaxRetries = 3
  val RetryStatuses: Set[Int] = Set(429, 500, 502, 503, 504)

  /** Per-JVM request pacer (`rate_limit_rps`): ALL tasks on this
    * executor drawing on the same endpoint share one budget — the
    * coordination `rate_limit_delay` (a per-TASK sleep between pages)
    * cannot express. A scan with 32 concurrent tasks and
    * rate_limit_rps=10 makes ≤10 requests/second TOTAL from this JVM;
    * on a cluster the option is a PER-EXECUTOR budget (divide the API
    * quota by executor count). Minimum-interval form: each acquire
    * reserves the next slot under the lock, then sleeps OUTSIDE it,
    * so a slow request never blocks the queue behind its sleep. */
  final class RequestPacer(rps: Double) {
    private val intervalNanos = (1e9 / rps).toLong
    private var nextAtNanos = 0L
    def acquire(): Unit = {
      var sleepNanos = 0L
      synchronized {
        val now = System.nanoTime()
        val at = math.max(now, nextAtNanos)
        nextAtNanos = at + intervalNanos
        sleepNanos = at - now
      }
      if (sleepNanos > 0)
        Thread.sleep(sleepNanos / 1000000L, (sleepNanos % 1000000L).toInt)
    }
  }

  private val pacers =
    new java.util.concurrent.ConcurrentHashMap[(String, Double), RequestPacer]()

  /** One pacer per (endpoint, rps): scans of the same endpoint at the
    * same configured budget share it; a different rps is a different
    * (deliberate) budget. */
  def pacerFor(endpoint: String, rps: Double): RequestPacer =
    pacers.computeIfAbsent((endpoint, rps), _ => new RequestPacer(rps))

  /** One JDK HttpClient per executor JVM: connection pooling +
    * keep-alive across all partition readers (timeouts are
    * per-request, so sharing loses nothing). */
  lazy val sharedHttpClient: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10))
      .build()

  /** Shared daemon pool for one-page-ahead prefetch. Cached: grows to
    * the number of concurrently-fetching partitions on this executor
    * (each holds at most one in-flight request) and idle threads die
    * after 60 s, so it never pins the JVM or leaks across queries. */
  private[core] lazy val prefetchPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool((r: Runnable) => {
      val t = new Thread(r, "alpaca-prefetch")
      t.setDaemon(true)
      t
    })
}
