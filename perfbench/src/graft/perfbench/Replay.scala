package graft.perfbench

import java.net.InetSocketAddress
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-memory replay of the fixture stub.
  *
  * While `recording`, a request the store has not seen is forwarded once
  * to the upstream stub and its reply kept. Afterwards every reply is
  * served from memory in one write, so the stub's JSON rendering is not
  * billed to the connector. A request the store has not seen while
  * replaying is a miss: it is answered 404 and counted.
  *
  * `delayMs` holds each replayed answer on a timer (no thread sleeps),
  * modelling the API round trip without keeping a core busy. */
final class ReplayServer(port: Int, upstreamBase: String) {
  private final case class Reply(status: Int, body: Array[Byte], records: Long)

  private val store = new ConcurrentHashMap[String, Reply]()
  @volatile var recording = true
  @volatile var delayMs = 0L

  val requests = new AtomicLong
  val bytes = new AtomicLong
  val records = new AtomicLong
  val misses = new AtomicLong
  val non2xx = new AtomicLong
  /** CPU time of the server's own threads answering requests. */
  val busyNanos = new AtomicLong
  val delayNanos = new AtomicLong

  private def daemon(name: String): java.util.concurrent.ThreadFactory = r => {
    val t = new Thread(r, name)
    t.setDaemon(true)
    t
  }
  private val pool = Executors.newFixedThreadPool(8, daemon("replay-io"))
  private val timer: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor(daemon("replay-timer"))
  private val upstream = HttpClient.newHttpClient()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 512)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  /** Base URL the connector is pointed at (the `/v2` form the stub uses). */
  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/v2"

  /** URLs (path?query) of every stored reply. */
  def storedKeys: Seq[String] = {
    val out = Seq.newBuilder[String]
    store.keySet.forEach(k => out += k)
    out.result()
  }

  /** Empties the store and re-enters recording mode. */
  def reset(): Unit = {
    store.clear()
    recording = true
    delayMs = 0L
    resetCounters()
  }

  def resetCounters(): Unit =
    Seq(requests, bytes, records, misses, non2xx, busyNanos, delayNanos).foreach(_.set(0L))

  def stop(): Unit = {
    server.stop(0)
    timer.shutdownNow()
    pool.shutdownNow()
  }

  private val cpu = java.lang.management.ManagementFactory.getThreadMXBean
  private def cpuNow: Long = cpu.getCurrentThreadCpuTime

  private def handle(ex: HttpExchange): Unit = {
    val t0 = cpuNow
    val uri = ex.getRequestURI
    val key = uri.getRawPath + "?" + Option(uri.getRawQuery).getOrElse("")
    var reply = store.get(key)
    if (reply == null && recording) {
      reply = fetchUpstream(key)
      store.putIfAbsent(key, reply)
    }
    if (reply == null) {
      misses.incrementAndGet()
      write(ex, Reply(404, s"replay miss: $key".getBytes("UTF-8"), 0L))
      busyNanos.addAndGet(cpuNow - t0)
      return
    }
    requests.incrementAndGet()
    bytes.addAndGet(reply.body.length.toLong)
    records.addAndGet(reply.records)
    if (reply.status < 200 || reply.status >= 300) non2xx.incrementAndGet()
    val d = delayMs
    busyNanos.addAndGet(cpuNow - t0)
    if (d > 0 && !recording) {
      delayNanos.addAndGet(d * 1000000L)
      val r = reply
      timer.schedule((() => pool.execute(() => timedWrite(ex, r))): Runnable, d, TimeUnit.MILLISECONDS)
    } else timedWrite(ex, reply)
  }

  private def timedWrite(ex: HttpExchange, r: Reply): Unit = {
    val t0 = cpuNow
    write(ex, r)
    busyNanos.addAndGet(cpuNow - t0)
  }

  private def write(ex: HttpExchange, r: Reply): Unit =
    try {
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(r.status, r.body.length.toLong)
      ex.getResponseBody.write(r.body)
    } finally ex.close()

  private def fetchUpstream(key: String): Reply = {
    val req = HttpRequest.newBuilder(java.net.URI.create(upstreamBase + key)).GET().build()
    val resp = upstream.send(req, HttpResponse.BodyHandlers.ofByteArray())
    Reply(resp.statusCode(), resp.body(), ReplayServer.countRecords(resp.body()))
  }
}

object ReplayServer {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Objects whose parent is an array: the record count of the flat
    * array-envelope pages (bars, trades). */
  def countRecords(body: Array[Byte]): Long = {
    import com.fasterxml.jackson.core.JsonToken._
    val jp = mapper.createParser(body)
    try {
      var inArray = List.empty[Boolean]
      var n = 0L
      var tk = jp.nextToken()
      while (tk != null) {
        tk match {
          case START_OBJECT =>
            if (inArray.headOption.contains(true)) n += 1
            inArray = false :: inArray
          case START_ARRAY => inArray = true :: inArray
          case END_OBJECT | END_ARRAY => inArray = inArray.tail
          case _ => ()
        }
        tk = jp.nextToken()
      }
      n
    } catch { case _: Exception => 0L }
    finally jp.close()
  }
}
