package graft.delivery

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

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
  * (CURLOPT_TIMEOUT analog, `src/cdc_webhook.c:128-133`). */
object JdkHttpPoster extends HttpPoster {
  @transient private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(30)).build()

  override def post(url: String, headers: Map[String, String], body: String,
                    timeoutMs: Long): (Int, String) =
    try {
      val b = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body))
      headers.foreach { case (k, v) => b.header(k, v) }
      val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    } catch {
      case e: Exception => (0, String.valueOf(e.getMessage))
    }
}
