package graft.delivery

import graft.model.TriggerConfig
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** SYNC webhook delivery (SURVEY §2.1 S3, §2.7 T1-T4).
  *
  * The reference delivers per row, blocking the transaction, with an
  * in-process retry loop (`src/cdc_webhook.c:178-217`) and aborts the
  * transaction on exhausted retries when `cancel_on_failure`
  * (`src/cdc_webhook.c:222-233`). The Spark-native mapping:
  *
  *  - delivery happens in the SINK (`foreachBatch`/`foreachPartition`),
  *    never inside a plan expression — side effects stay out of Catalyst;
  *  - per-key ordering: the batch is hash-partitioned by table identity and
  *    each partition delivers sequentially in `created_at, id` order — the
  *    reference's per-row commit-order semantics become per-key order (T1);
  *  - `cancel_on_failure` ⇒ throw from the partition task, failing the
  *    micro-batch, which Structured Streaming retries — the Spark analog of
  *    a transaction abort (at-least-once, duplicates possible: exactly the
  *    reference's own guarantee, proven by its timeout/retry tests — T2);
  *  - the retry loop sleeps `Backoff` delays between the `retryNumber+1`
  *    attempts (T3).
  */
object WebhookSink {

  final case class Outcome(
      eventId: String, success: Boolean, attemptCount: Int,
      lastStatus: Int, responses: Seq[String])

  /** One payload through the full retry loop (blocking). */
  def deliverPayload(cfg: TriggerConfig, poster: HttpPoster, url: String,
                     headers: Map[String, String], eventId: String,
                     json: String): Outcome = {
    var attempt = 0
    var lastStatus = 0
    val responses = scala.collection.mutable.ArrayBuffer.empty[String]
    while (attempt <= cfg.retryNumber) {
      if (attempt > 0)
        Thread.sleep(Backoff.delayMs(cfg.retryBackoff, cfg.retryInterval, attempt - 1))
      val (status, resp) = poster.post(url, headers, json, cfg.timeout * 1000L)
      lastStatus = status
      responses += resp
      if (HttpPoster.delivered(status))
        return Outcome(eventId, success = true, attempt + 1, status, responses.toSeq)
      attempt += 1
    }
    Outcome(eventId, success = false, cfg.retryNumber + 1, lastStatus, responses.toSeq)
  }

  /** Deliver one micro-batch of envelope rows (schema from
    * ChangeCapture.envelope). Partitions by table identity for per-key
    * ordering, serializes the envelope to JSON, posts sequentially. Throws
    * on failure when cancelOnFailure (fails the batch → retry).
    *
    * Security routing (reference `cdc_webhook--1.0.sql:184-198,237-249`):
    * NONE inlines url/headers as plan literals (the reference embeds them in
    * the generated function source); PRIVATE resolves them per-row from the
    * credential store via broadcast join, so secret values never appear in
    * the plan — `explain` output stays clean, the analog of
    * `pg_get_functiondef` not leaking (test_security_private). */
  def deliverBatch(batch: DataFrame, cfg: TriggerConfig,
                   poster: HttpPoster = JdkHttpPoster,
                   credentialsDir: Option[String] = None): Unit = {
    val cancel = cfg.cancelOnFailure
    val addressed = cfg.security match {
      case "PRIVATE" =>
        val dir = credentialsDir.getOrElse(throw new IllegalArgumentException(
          "PRIVATE security needs a credentialsDir"))
        graft.queue.CredentialStore.resolve(batch, batch.sparkSession, dir)
          .withColumn("_url", col("resolved_url"))
          .withColumn("_headers", col("resolved_headers"))
      case _ =>
        batch.withColumn("_url", lit(cfg.webhookUrl))
          .withColumn("_headers", lit(HeadersCodec.toJson(cfg.headers)))
    }
    val ordered = addressed
      .withColumn("payload_json", graft.cdc.ChangeCapture.payloadJson)
      .select(col("id"), col("table.name").as("tbl"),
        col("created_at"), col("payload_json"), col("_url"), col("_headers"))
      .repartition(col("tbl"))
      .sortWithinPartitions(col("created_at"), col("id"))
    ordered.foreachPartition { rows: Iterator[Row] =>
      rows.foreach { r =>
        val out = deliverPayload(cfg, poster, r.getString(4),
          HeadersCodec.parse(r.getString(5)),
          r.getString(0), r.getString(3))
        if (!out.success) {
          // P6: redacted error — header VALUES never appear in logs/errors
          // (reference `README.md:135-143`).
          val msg = s"webhook delivery failed for event ${out.eventId} " +
            s"after ${out.attemptCount} attempts (last status ${out.lastStatus}, " +
            "headers webhook_headers)"
          if (cancel) throw new RuntimeException(msg)
          else System.err.println(s"WARN $msg")
        }
      }
    }
  }
}
