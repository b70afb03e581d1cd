package graft.queue

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.model.TriggerConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable event queue — the reference's `cdc_webhook.event_log` table
  * (`cdc_webhook--1.0.sql:25-47`) as a parquet dataset: per-event delivery
  * state, retry config, attempt-history arrays, and `next_attempt`
  * scheduling.
  *
  * Layout for scale: terminal (DELIVERED/FAILED) history is hive-partitioned
  * by `status` — immutable, append-only. The live PENDING set is a
  * [[PendingStore]]: versioned snapshots + an enqueue inbox behind a
  * [[VersionedDir]] manifest, so the dispatcher's due scan reads O(PENDING) only
  * — the Spark analog of the reference's btree indexes on
  * (status, next_attempt) (`cdc_webhook--1.0.sql:50-52`) — and concurrent
  * readers resolve one atomic manifest instead of racing directory renames.
  * In production this dataset would be a Delta/Iceberg table with
  * MERGE-based transitions; the manifest commit is the same idea with one
  * moving part, dependency-free for a single dispatcher writer.
  */
object EventLog {

  final case class QueueRow(
      id: String,
      trigger_schema: String, trigger_table: String, trigger_name: String,
      webhook_url: String, headers: String, payload: String,
      timeout: Int, status: String, attempt_count: Int,
      attempts_time: Seq[java.sql.Timestamp],
      attempts_status: Seq[Int],
      attempts_response: Seq[String],
      next_attempt: java.sql.Timestamp,
      retry_number: Int, retry_interval: Int, retry_backoff: String,
      created_at: java.sql.Timestamp,
      // audit column: stamped on insert and touched on every status
      // transition, mirroring the reference's update_updated_at_column
      // triggers on event_log (`cdc_webhook--1.0.sql:87-100`)
      updated_at: java.sql.Timestamp)

  /** ASYNC enqueue (S2, reference `cdc_webhook--1.0.sql:296-324`): envelope
    * rows + the trigger's retry config → PENDING queue rows due immediately.
    * Spooled atomically into the PENDING store's inbox — like the
    * reference's transactional enqueue, a batch is either fully visible or
    * not yet there, and it can never race a dispatcher cycle's commit. */
  def enqueue(envelopes: DataFrame, cfg: TriggerConfig, queueDir: String): Unit = {
    val headersJson = graft.delivery.HeadersCodec.toJson(cfg.headers)
    // PRIVATE-resolved batches carry per-row url/headers; NONE uses the
    // config literals (reference stores the resolved values either way).
    val urlCol = if (envelopes.columns.contains("resolved_url"))
      col("resolved_url") else lit(cfg.webhookUrl)
    val hdrCol = if (envelopes.columns.contains("resolved_headers"))
      col("resolved_headers") else lit(headersJson)
    val rows = envelopes.select(
        col("id"),
        lit(cfg.schemaName).as("trigger_schema"),
        lit(cfg.tableName).as("trigger_table"),
        lit(cfg.name).as("trigger_name"),
        urlCol.as("webhook_url"),
        hdrCol.as("headers"),
        graft.cdc.ChangeCapture.payloadJson.as("payload"),
        lit(cfg.timeout).as("timeout"),
        lit("PENDING").as("status"),
        lit(0).as("attempt_count"),
        array().cast("array<timestamp>").as("attempts_time"),
        array().cast("array<int>").as("attempts_status"),
        array().cast("array<string>").as("attempts_response"),
        current_timestamp().as("next_attempt"),
        lit(cfg.retryNumber).as("retry_number"),
        lit(cfg.retryInterval).as("retry_interval"),
        lit(cfg.retryBackoff).as("retry_backoff"),
        current_timestamp().as("created_at"),
        current_timestamp().as("updated_at"))
    PendingStore.spool(rows, queueDir)
  }

  /** Land a dispatcher cycle's terminal rows in the history: every file of
    * the staged `status=DELIVERED|FAILED` partitions of `staged` moves, by
    * one rename each, into the same partition under `queueDir`. Files keep
    * the cycle write's unique names. A crash midway leaves some landed; the
    * replayed cycle lands its own again, which is the at-least-once history
    * [[terminalHistory]] collapses. */
  def landTerminal(staged: Path, queueDir: String): Unit =
    Seq("DELIVERED", "FAILED").foreach { status =>
      val from = staged.resolve(s"status=$status")
      if (Files.isDirectory(from)) {
        val to = Files.createDirectories(Paths.get(queueDir, s"status=$status"))
        val s = Files.list(from)
        try s.forEach(f => Files.move(f, to.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
        finally s.close()
        Files.delete(from)
      }
    }

  /** The full queue view: immutable terminal partitions ∪ the live PENDING
    * set (resolved through the manifest — see [[PendingStore]]). */
  def read(spark: SparkSession, queueDir: String): DataFrame =
    terminalRead(spark, queueDir).unionByName(PendingStore.read(spark, queueDir))

  /** The hive-partitioned terminal history only. Spark's file listing skips
    * the dot-prefixed `.pending` store, so this never touches live state. */
  private def terminalRead(spark: SparkSession, queueDir: String): DataFrame = {
    val schema = org.apache.spark.sql.Encoders.product[QueueRow].schema
    val p = java.nio.file.Paths.get(queueDir)
    val hasStatusDirs = java.nio.file.Files.exists(p) && {
      val s = java.nio.file.Files.list(p)
      try {
        val it = s.iterator(); var found = false
        while (!found && it.hasNext)
          found = it.next().getFileName.toString.startsWith("status=")
        found
      } finally s.close()
    }
    if (!hasStatusDirs)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(queueDir)
  }

  /** Consumer view of the terminal (DELIVERED/FAILED) history. A dispatcher
    * crash between the terminal append and the PENDING swap re-attempts the
    * row, so the append-only history can hold the same delivery twice
    * (at-least-once, T2); one row per (id, attempt_count) — highest
    * attempt_count wins per id — restores the exactly-once view, the batch
    * twin of StatefulDedup. */
  def terminalHistory(spark: SparkSession, queueDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // replay duplicates share (attempt_count, status); the attempts_time
    // tiebreak (earliest full history) makes the surviving row deterministic
    val w = Window.partitionBy(col("id"))
      .orderBy(col("attempt_count").desc, col("status"), col("attempts_time"))
    terminalRead(spark, queueDir)
      .filter(col("status").isin("DELIVERED", "FAILED"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
