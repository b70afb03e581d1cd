package graftbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** One POST as the receiver saw it. `key` and `seq` are -1 when absent. */
final case class Attempt(hook: String, id: String, op: String, key: Long, seq: Long,
                         status: Int, startNs: Long, endNs: Long, token: Option[String])

/** The webhook endpoint: an in-process JDK HTTP server on localhost with at
  * most `threads` handler threads. Every request sleeps `delayMs` (the
  * endpoint's service time) and is answered 2xx, except the first attempt
  * of an event for which `fail503(op, key)` holds, which gets a 503. */
final class Receiver(threads: Int, delayMs: Long, fail503: (String, Long) => Boolean) {
  private val attempts = new ConcurrentLinkedQueue[Attempt]
  private val refused = ConcurrentHashMap.newKeySet[String]()
  private val inflight = new AtomicInteger
  @volatile private var maxInflight = 0

  private val IdRe = """"id":"([^"]+)"""".r
  private val OpRe = """"op":"([A-Z]+)"""".r
  private val KeyRe = """o_orderkey\\?":(\d+)""".r
  private val SeqRe = """chg_seq\\?":(\d+)""".r

  // The JDK server writes a response's headers and body separately; without
  // TCP_NODELAY every response waits out the client's delayed ACK (~40 ms),
  // which no real endpoint imposes. Read once, when the first server starts.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/hook", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val now = inflight.incrementAndGet()
    synchronized { if (now > maxInflight) maxInflight = now }
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val id = IdRe.findFirstMatchIn(body).map(_.group(1)).getOrElse("")
      val op = OpRe.findFirstMatchIn(body).map(_.group(1)).getOrElse("")
      val key = KeyRe.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(-1L)
      // the change's own stamp is in the last row image of the payload
      // (`new` follows `old`; a DELETE carries it in `old`)
      val seq = SeqRe.findAllMatchIn(body).toSeq.lastOption.map(_.group(1).toLong).getOrElse(-1L)
      if (delayMs > 0) Thread.sleep(delayMs)
      val status = if (fail503(op, key) && refused.add(id)) 503 else 200
      val resp = """{"status":"ok"}""".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
      attempts.add(Attempt(ex.getRequestURI.getPath.stripPrefix("/hook/"), id, op, key, seq,
        status, t0, System.nanoTime(), Option(ex.getRequestHeaders.getFirst("X-Bench-Token"))))
    } finally inflight.decrementAndGet()
  })
  server.setExecutor(pool)
  server.start()

  def url(hook: String): String =
    s"http://127.0.0.1:${server.getAddress.getPort}/hook/$hook"

  def all: Seq[Attempt] = attempts.asScala.toSeq
  def injected503: Int = refused.size
  def inflightMax: Int = maxInflight

  /** Forget what was received (between set-up repetitions). */
  def reset(): Unit = { attempts.clear(); refused.clear(); maxInflight = 0 }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Receiver {
  /** Length of the union of the attempts' in-flight intervals, in ns. */
  def busyNs(as: Seq[Attempt]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    as.map(a => (a.startNs, a.endNs)).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
