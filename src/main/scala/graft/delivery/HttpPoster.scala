package graft.delivery

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{CompletableFuture, CompletionException}

/** Minimal POST abstraction so delivery is unit-testable and the transport
  * is swappable. Implementations must be Serializable (used inside
  * foreachPartition on executors). */
trait HttpPoster extends Serializable {
  /** POST JSON; returns (statusCode, responseBody). Transport-level failures
    * (refused connection, timeout) surface as status 0 + message — the
    * delivery loop treats anything outside 2xx as a failed attempt
    * (reference success criterion `src/cdc_webhook.c:137-139`). */
  def post(url: String, headers: Map[String, String], body: String,
           timeoutMs: Long): (Int, String)

  /** Start one POST; the future completes with what [[post]] returns. The
    * ASYNC dispatcher keeps a bounded window of these in flight per task.
    * This default runs [[post]] in the caller's thread, so a poster that
    * only implements [[post]] delivers one row at a time, and an exception
    * from it fails the caller exactly as before. */
  def postAsync(url: String, headers: Map[String, String], body: String,
                timeoutMs: Long): CompletableFuture[(Int, String)] =
    CompletableFuture.completedFuture(post(url, headers, body, timeoutMs))
}

object HttpPoster {
  /** The delivery contract's success test: any 2xx status (reference
    * `src/cdc_webhook.c:137-139`). SYNC retries and the ASYNC dispatcher's
    * status machine both decide by it. */
  def delivered(status: Int): Boolean = status >= 200 && status < 300
}

/** java.net.http-based transport: fresh client per executor (lazy, not
  * serialized), Content-Type: application/json + custom headers
  * (reference `src/cdc_webhook.c:196-198`), per-request timeout
  * (CURLOPT_TIMEOUT analog, `src/cdc_webhook.c:128-133`). [[postAsync]] is
  * `sendAsync` on the same client, so concurrent POSTs share its
  * connection pool. */
object JdkHttpPoster extends HttpPoster {
  @transient private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(30)).build()

  private def request(url: String, headers: Map[String, String], body: String,
                      timeoutMs: Long): HttpRequest = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    b.build()
  }

  override def post(url: String, headers: Map[String, String], body: String,
                    timeoutMs: Long): (Int, String) =
    try {
      val resp = client.send(request(url, headers, body, timeoutMs),
        HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    } catch {
      case e: Exception => (0, String.valueOf(e.getMessage))
    }

  override def postAsync(url: String, headers: Map[String, String], body: String,
                         timeoutMs: Long): CompletableFuture[(Int, String)] =
    try
      client.sendAsync(request(url, headers, body, timeoutMs),
          HttpResponse.BodyHandlers.ofString())
        .handle[(Int, String)] { (resp, err) =>
          if (err == null) (resp.statusCode(), resp.body())
          else {
            val cause = err match {
              case c: CompletionException if c.getCause != null => c.getCause
              case e => e
            }
            (0, String.valueOf(cause.getMessage))
          }
        }
    catch {
      case e: Exception => CompletableFuture.completedFuture((0, String.valueOf(e.getMessage)))
    }
}
