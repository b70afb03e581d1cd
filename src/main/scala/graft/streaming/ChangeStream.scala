package graft.streaming

import graft.delivery.{HttpPoster, JdkHttpPoster, WebhookSink}
import graft.model.TriggerConfig
import graft.queue.EventLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Structured-Streaming face of the engine (SURVEY §2.1 S1-S3, §2.7).
  *
  * A change feed is any streaming DataFrame of rows
  * `(op, old struct, new struct)` — file source over an append directory,
  * Kafka, or MemoryStream in tests. Capture is the SAME declarative
  * [[graft.cdc.ChangeCapture.capture]] used in batch (filters + projection
  * compose identically on a streaming plan); delivery modes mirror the
  * reference:
  *
  *  - SYNC  → `foreachBatch` → [[WebhookSink.deliverBatch]]: retry loop in
  *    the sink, batch failure = transaction-abort analog (T1/T3/T4);
  *  - ASYNC → `foreachBatch` → [[EventLog.enqueue]]: durable PENDING rows,
  *    drained by [[graft.queue.Dispatcher]] on its own cadence (T5).
  */
object ChangeStream {

  /** Route a captured stream per the trigger's mode. Caller starts it
    * (`.start()`), choosing checkpoint location and trigger cadence.
    * PRIVATE security resolves url/headers from the credential store at fire
    * time (reference `cdc_webhook--1.0.sql:237-249` resolves before either
    * the sync call or the enqueue). */
  def deliveryWriter(envelopes: DataFrame, cfg: TriggerConfig,
                     queueDir: String = "",
                     poster: HttpPoster = JdkHttpPoster,
                     credentialsDir: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] = {
    val w = envelopes.writeStream.outputMode("append")
    cfg.mode match {
      case "SYNC" =>
        w.foreachBatch { (batch: DataFrame, _: Long) =>
          WebhookSink.deliverBatch(batch, cfg, poster, credentialsDir)
        }
      case "ASYNC" =>
        require(queueDir.nonEmpty, "ASYNC mode needs a queueDir")
        w.foreachBatch { (batch: DataFrame, _: Long) =>
          val addressed = credentialsDir match {
            case Some(dir) if cfg.security == "PRIVATE" =>
              graft.queue.CredentialStore.resolve(batch, batch.sparkSession, dir)
            case _ => batch
          }
          EventLog.enqueue(addressed, cfg, queueDir)
        }.trigger(Trigger.ProcessingTime("1 second")) // reference worker cadence
    }
  }

  /** T6: watermarked tumbling/sliding window aggregation over an event-time
    * stream — late rows beyond the watermark are dropped by the engine. */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
                     windowLen: String, slide: Option[String] = None): DataFrame = {
    val win = slide match {
      case Some(sl) => window(col(tsCol), windowLen, sl)
      case None     => window(col(tsCol), windowLen)
    }
    events
      .withWatermark(tsCol, watermark)
      .groupBy(win, col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** T6: session windows (30-min default gap) — built-in session_window. */
  def sessionCounts(events: DataFrame, tsCol: String, watermark: String,
                    gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))
}
