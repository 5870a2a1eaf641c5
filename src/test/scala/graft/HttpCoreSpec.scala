package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.HttpServer
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.AlpacaHttpClient

/** Unit layer for the pure HTTP core (the Spark-free seam of SURVEY
  * §3.3), mirroring the reference's unit tests for URL building and
  * pagination token plumbing (`tests/unit/test_common.py`). */
class HttpCoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var endpoint: String = _
  @volatile private var requests = Vector.empty[String]

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v2/pages", { ex =>
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      synchronized { requests :+= q }
      val token = "(?:^|&)page_token=([^&]*)".r.findFirstMatchIn(q).map(_.group(1))
      val body = token match {
        case None => """{"n": 1, "next_page_token": "t2"}"""
        case Some("t2") => """{"n": 2, "next_page_token": "t3"}"""
        case Some("t3") => """{"n": 3, "next_page_token": null}"""
        case other => s"""{"error": "unexpected token $other"}"""
      }
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/v2"
  }

  override def afterAll(): Unit = server.stop(0)

  test("URL building: param encoding, path join, skipped nulls") {
    val c = new AlpacaHttpClient("https://x.example/v2", Map.empty, Seq("stocks", "bars"))
    val url = c.buildUrl(Seq(
      "symbols" -> "AAPL,MSFT",
      "start" -> "2021-01-01T00:00:00+00:00",
      "skip" -> null,
      "spacey" -> "a b"))
    assert(url == "https://x.example/v2/stocks/bars?" +
      "symbols=AAPL%2CMSFT&start=2021-01-01T00%3A00%3A00%2B00%3A00&spacey=a%20b")
  }

  test("pagination: token sequence walked lazily until null") {
    val c = new AlpacaHttpClient(endpoint, Map.empty, Seq("pages"))
    val it = c.fetchAllPages(Seq("q" -> "1"))
    val before = requests.size
    assert(it.hasNext) // iterator is lazy: nothing fetched yet at creation
    val pages = it.map(_.get("n").asInt()).toList
    assert(pages == List(1, 2, 3))
    assert(requests.size - before == 3)
    // tokens echoed back in order
    val tokens = requests.drop(before).map(q =>
      "(?:^|&)page_token=([^&]*)".r.findFirstMatchIn(q).map(_.group(1)))
    assert(tokens == Vector(None, Some("t2"), Some("t3")))
  }

  test("stub grid paging: multi-page asc/desc tile the fixture sequence exactly") {
    // The bars endpoint pages by direct time-grid index (O(page) per
    // request). Multi-page asc must tile bars() in order; desc must
    // tile the REVERSED sequence — the same contract as the
    // materialize-reverse-slice form it replaced and as the real
    // API's server-side `sort` (`stocks/trades.py:54-57`).
    import graft.stub.{AlpacaFixtures, AlpacaStubServer}
    val stub = AlpacaStubServer.endpoint.stripSuffix("/v2")
    val c = new AlpacaHttpClient(stub, Map.empty, Seq("v2", "stocks", "bars"))
    val base = Seq(
      "symbols" -> "GRID",
      "start" -> "2021-01-04T00:00:00+00:00",
      "end" -> "2021-01-05T02:00:00+00:00", // 26 hourly bars
      "timeframe" -> "1Hour",
      "limit" -> "7") // 4 pages: 7+7+7+5
    val expectAsc = AlpacaFixtures.bars("GRID",
      1609718400000000L, 1609812000000000L, 3600L * 1000000L).map(_.timeUs)
    assert(expectAsc.size == 26)

    def times(sort: String): Seq[Long] =
      c.fetchAllPages(base :+ ("sort" -> sort)).flatMap { pg =>
        val arr = pg.get("bars").get("GRID")
        (0 until arr.size).map(i =>
          graft.core.AlpacaOptions.parseIsoMicros(arr.get(i).get("t").asText()).get)
      }.toList

    assert(times("asc") == expectAsc)
    assert(times("desc") == expectAsc.reverse)
  }

  test("configurable read timeout: slow response fails fast, default rides it out") {
    server.createContext("/v2/slow", { ex =>
      Thread.sleep(700)
      val b = """{"n": 1, "next_page_token": null}""".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    // 0.2 s budget against a 0.7 s server: the request times out and the
    // IOException surfaces through the network-failure path
    val fast = new AlpacaHttpClient(endpoint, Map.empty, Seq("slow"),
      readTimeoutSec = 0.2)
    val e = intercept[RuntimeException](fast.getPage(Seq("q" -> "1"), None))
    assert(e.getMessage.contains("Network request failed"), s"unexpected: $e")
    // an adequate budget succeeds against the same endpoint
    val ok = new AlpacaHttpClient(endpoint, Map.empty, Seq("slow"),
      readTimeoutSec = 5.0)
    assert(ok.getPage(Seq("q" -> "1"), None).get("n").asInt() == 1)
  }

  test("prefetch path surfaces mid-pagination HTTP errors unwrapped") {
    // /pages yields page 1 fine; an unknown-token request 404s. The
    // error happens inside the prefetch future — the consumer must
    // see the original RuntimeException (message intact), not a
    // CompletionException wrapper.
    server.createContext("/v2/flaky_pages", { ex =>
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val token = "(?:^|&)page_token=([^&]*)".r.findFirstMatchIn(q).map(_.group(1))
      val (code, body) = token match {
        case None => (200, """{"n": 1, "next_page_token": "boom"}""")
        case Some(_) => (404, """{"message": "no such page"}""")
      }
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    val c = new AlpacaHttpClient(endpoint, Map.empty, Seq("flaky_pages"))
    val it = c.fetchAllPages(Seq("q" -> "1"))
    assert(it.next().get("n").asInt() == 1)
    val e = intercept[RuntimeException](it.next())
    assert(e.getMessage.contains("404") && e.getMessage.contains("no such page"),
      s"unexpected: $e")
  }

  /** The Jackson skim the byte scan replaced, kept as its oracle: one
    * full lex of the page, counting array-parented objects and reading
    * the string value of the depth-1 `next_page_token` key. */
  private def jacksonSkim(bytes: Array[Byte]): (Option[String], Long) = {
    import com.fasterxml.jackson.core.JsonToken._
    val jp = new com.fasterxml.jackson.core.JsonFactory().createParser(bytes)
    try {
      var tok: Option[String] = None
      var count = 0L
      var depth = 0
      var arrayBits = 0L
      var pendingToken = false
      var tk = jp.nextToken()
      while (tk != null) {
        tk match {
          case START_OBJECT =>
            if (depth > 0 && ((arrayBits >> (depth - 1)) & 1L) == 1L) count += 1
            if (depth >= 64) throw new IllegalArgumentException("nested deeper than 64")
            arrayBits &= ~(1L << depth); depth += 1
            pendingToken = false
          case START_ARRAY =>
            if (depth >= 64) throw new IllegalArgumentException("nested deeper than 64")
            arrayBits |= 1L << depth; depth += 1
            pendingToken = false
          case END_OBJECT | END_ARRAY =>
            depth -= 1
            pendingToken = false
          case FIELD_NAME =>
            pendingToken = depth == 1 && jp.currentName() == "next_page_token"
          case VALUE_STRING if pendingToken =>
            tok = Some(jp.getText).filter(_.nonEmpty)
            pendingToken = false
          case _ =>
            pendingToken = false
        }
        tk = jp.nextToken()
      }
      (tok, count)
    } finally jp.close()
  }

  private def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)

  /** A hand-written page with `~` for each backslash. */
  private def json(s: String) = s.replace('~', '\\')

  /** One page from the fixture stub. */
  private def stubPage(path: Seq[String], params: (String, String)*)(
      token: Option[String] = None): Array[Byte] = {
    val stub = graft.stub.AlpacaStubServer.endpoint.stripSuffix("/v2")
    new AlpacaHttpClient(stub, Map.empty, path).getPageBytes(params, token)
  }

  private val day = Seq("start" -> "2021-01-04T00:00:00Z", "end" -> "2021-01-05T00:00:00Z")

  /** Every page shape the stub serves, plus the hostile bar pages. */
  private def stubPages: Seq[Array[Byte]] = {
    def bars(sym: String, extra: (String, String)*)(tok: Option[String] = None) =
      stubPage(Seq("v2", "stocks", "bars"),
        (Seq("symbols" -> sym, "timeframe" -> "1Hour") ++ day ++ extra): _*)(tok)
    def series(path: String*)(sym: String) =
      stubPage(path, (("symbols" -> sym) +: day :+ ("limit" -> "50")): _*)()
    def keyed(path: String*)(syms: String) = stubPage(path, "symbols" -> syms)()
    Seq(
      bars("AAPL", "limit" -> "7")(), // first page, string token
      bars("AAPL", "limit" -> "7")(Some("21")), // last page, null token
      bars("AAPL,MSFT", "limit" -> "30")(Some("7")), // page spans two symbols
      bars("AAPL", "end" -> "2021-01-04T00:00:00Z")(), // empty data map
      bars("DRIFTEXTRA", "limit" -> "7")(Some("7")), // nested objects in records
      bars("MALFORMED")(), bars("TOKENLOOP")(), bars("DUPPAGE")(), bars("BACKWARDS")(),
      series("v2", "stocks", "trades")("AAPL"), // condition arrays
      series("v2", "stocks", "quotes")("AAPL"),
      series("v1beta3", "crypto", "us", "trades")("BTC/USD"),
      series("v1beta3", "crypto", "us", "quotes")("BTC/USD"),
      series("v2", "options", "trades")("AAPL240119C00150000"),
      series("v2", "options", "quotes")("AAPL240119C00150000"),
      series("v1beta1", "news")("AAPL,MSFT"), // flat array
      series("v2", "stocks", "auctions")("AAPL"), // fan-out records
      series("v2", "stocks", "corporate_actions")("AAPL"),
      keyed("v2", "stocks", "trades", "latest")("AAPL,MSFT"), // keyed objects
      keyed("v2", "stocks", "snapshots")("AAPL,MSFT"), // bare keyed envelope
      keyed("v1beta3", "crypto", "us", "snapshots")("BTC/USD"),
      keyed("v1beta3", "crypto", "us", "latest", "orderbooks")("BTC/USD"), // level arrays
      keyed("v1beta1", "options", "snapshots")("AAPL240119C00150000"),
      stubPage(Seq("v1beta1", "screener", "stocks", "movers"))(), // two arrays
      stubPage(Seq("v1beta1", "screener", "stocks", "most-actives"))(),
      stubPage(Seq("v2", "stocks", "meta", "exchanges"))())
  }

  test("page skim: byte scan matches the Jackson oracle on every page shape") {
    // `~` stands for a backslash (see `json`)
    val text = new String(Array(0xe9, 0x2713, 0x1f600), 0, 3) // é ✓ 😀: 2-4 byte UTF-8
    val handWritten = Seq(
      // structural bytes inside strings, escaped quotes and backslashes
      json("""{"bars": {"X": [{"t": "a~"b{[", "c": "}]~~"}, {"u": "~~~""}]}, "next_page_token": "k"}"""),
      json("""{"data": ["{", "[", "~"", "~~", "}", "]", ":", ","], "next_page_token": "a"}"""),
      // next_page_token as a value, as a nested key and as an array element
      """{"d": [{"next_page_token": "inner"}, "next_page_token"], "x": "next_page_token",
        |"next_page_token": "outer", "z": {"next_page_token": "deep"}}""".stripMargin,
      """{"next_page_token": "outer", "z": {"next_page_token": "deep"}}""",
      // token values: escapes, null, empty, non-string; an escaped key
      json("""{"next_page_token": "a~u0062~n~"q~"~~~/"}"""),
      """{"next_page_token": null}""", """{"next_page_token": ""}""",
      """{"next_page_token": 5}""", """{"next_page_token": {"v": "x"}}""",
      json("""{"next~u005fpage_token": "escaped-key"}"""),
      """{"next_page_token": "first", "next_page_token": "second"}""",
      // whitespace variants
      " \n\t{\r\n\"next_page_token\" \t:\n \"w\" , \"b\" : [ { } , { \"a\" : [ ] } ] }  \r\n",
      """{"next_page_token":"tight","b":[{},{"a":[{}]}]}""",
      // scalars, multi-byte text, a top-level array, a byte-order mark
      """{"a": [true, false, null, -0, 0, 1.5e-3, 2E+10, -0.25, 10], "next_page_token": "s"}""",
      s"""{"s": "h${text}llo", "next_page_token": "$text"}""",
      """[{"a": 1}, {"b": [{}, {}]}, []]""",
      new String(Character.toChars(0xfeff)) + """{"next_page_token": "bom"}""",
      "[" * 64 + "]" * 64)
    val pages = stubPages ++ handWritten.map(utf8)
    pages.foreach { b =>
      assert(AlpacaHttpClient.skimPage(b) == jacksonSkim(b),
        new String(b, StandardCharsets.UTF_8).take(300))
    }
    // the stub pages carry records and tokens, so the oracle saw real work
    assert(stubPages.map(jacksonSkim).map(_._2).sum > 300)
    assert(AlpacaHttpClient.skimPage(stubPages.head) == ((Some("7"), 7L)))
  }

  test("page skim: truncation, bad structure, deep nesting and trailing content fail") {
    def fails(b: Array[Byte], oracleFails: Boolean = true): String = {
      if (oracleFails) intercept[Exception](jacksonSkim(b))
      intercept[IllegalArgumentException](AlpacaHttpClient.skimPage(b)).getMessage
    }
    val truncated = stubPage(Seq("v2", "stocks", "bars"),
      ("symbols" -> "TRUNCATED") +: day :+ ("timeframe" -> "1Hour"): _*)()
    assert(fails(truncated).contains("Unexpected end-of-input"))
    Seq("""{"a": "abc""", """{"a": [1, 2""", """{"a": 1""", json("""{"a": "x~"""), "  ")
      .foreach(p => assert(fails(utf8(p), oracleFails = p.trim.nonEmpty)
        .contains("Unexpected end-of-input"), p))
    assert(fails(utf8("[" * 65 + "]" * 65)).contains("deeper than 64"))
    Seq("""{"a": 1} x""", """{"a": 1}}""", """{"a": 1},""")
      .foreach(p => assert(fails(utf8(p)).contains("trailing content"), p))
    // a second top-level value: Jackson reads a value sequence, the
    // skim fails the page
    Seq("""{"a": 1} {"b": 2}""", """{"a": 1} 2""")
      .foreach(p => assert(fails(utf8(p), oracleFails = false).contains("trailing content"), p))
    Seq("""{"a": [1, 2}}""", """{"a" 1}""", """[1 2]""", """{"a": 1,}""", """[1,]""",
      """{,}""", """{"a": 1 "b": 2}""", """{1: 2}""", """{"a": tru}""", """{"a": nulll}""",
      """{"a": 01}""", """{"a": 1.}""", """{"a": -}""", """{"a": .5}""", """{"a": +1}""",
      """{"a": 1e}""", json("""{"a": "~q"}"""), json("""{"a": "~u00zz"}"""), "{\"a\": \"tab\there\"}",
      """{"a": 1]""", """["a": 1]""")
      .foreach(p => fails(utf8(p)))
  }

  test("RequestPacer: concurrent acquires space to the configured rate") {
    import graft.core.AlpacaHttpClient
    val pacer = new AlpacaHttpClient.RequestPacer(100.0) // 10ms interval
    val t0 = System.nanoTime()
    val threads = (1 to 4).map { _ =>
      new Thread(() => (1 to 5).foreach(_ => pacer.acquire()))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    // 20 acquires at 10ms spacing: >= 190ms by construction (first is
    // free); generous lower bound to stay timing-robust
    assert(elapsedMs >= 150, s"20 acquires at 100rps took only ${elapsedMs}ms")
    // distinct (endpoint, rps) pairs get distinct pacers; same pair shares
    val a = AlpacaHttpClient.pacerFor("http://x", 5.0)
    assert(AlpacaHttpClient.pacerFor("http://x", 5.0) eq a)
    assert(AlpacaHttpClient.pacerFor("http://x", 7.0) ne a)
  }
}
