package graft.cdc

import graft.model.TriggerConfig
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-trigger capture dataflow: operation filter → column-tracking gate →
  * envelope projection (SURVEY.md §2.2 P1-P4, §1.3).
  *
  * Input contract: a change-row DataFrame with columns `op` (INSERT | UPDATE |
  * DELETE) and whole-row `old` / `new` structs — what [[SnapshotDiff.diff]]
  * emits, or what a streaming change feed is normalized to.
  *
  * All three stages are declarative Column expressions, so Catalyst pushes
  * the filters into the scan and whole-stage-codegens the projection; config
  * values are folded in as literals (the Spark analog of the reference's
  * trigger-creation-time `format %L` constant baking,
  * `cdc_webhook--1.0.sql:215-352`).
  */
object ChangeCapture {

  /** P1 — operation routing (`cdc_webhook--1.0.sql:201,355-360`). */
  def operationFilter(cfg: TriggerConfig): Column =
    col("op").isin(cfg.operations: _*)

  /** P2 — UPDATE column-tracking gate (`cdc_webhook--1.0.sql:229-235`):
    * empty updateColumns ⇒ gate disabled (every UPDATE fires); otherwise an
    * UPDATE fires only when some tracked column changed (null-safe). Non-UPDATE
    * ops always pass. */
  def updateGate(cfg: TriggerConfig): Column =
    if (!cfg.tracksColumns) lit(true)
    else col("op") =!= "UPDATE" ||
      SnapshotDiff.anyColumnChanged("old", "new", cfg.updateColumns)

  /** P3/P4 — canonical change-event envelope (`cdc_webhook--1.0.sql:252-280`,
    * README.md:202-231): id, created_at, table{schema,name},
    * trigger{name,timing}, event{op, data{old,new}} with op-shaped nulls and
    * row images serialized as JSON strings (schema-agnostic parity with
    * `row_to_json`). */
  def envelope(cfg: TriggerConfig): Seq[Column] = Seq(
    expr("uuid()").as("id"),
    current_timestamp().as("created_at"),
    struct(
      lit(cfg.schemaName).as("schema"),
      lit(cfg.tableName).as("name")).as("table"),
    struct(
      lit(cfg.name).as("name"),
      lit(cfg.triggerTiming).as("timing")).as("trigger"),
    struct(
      col("op"),
      struct(
        when(col("op") === "INSERT", lit(null).cast("string"))
          .otherwise(to_json(col("old"))).as("old"),
        when(col("op") === "DELETE", lit(null).cast("string"))
          .otherwise(to_json(col("new"))).as("new")).as("data")).as("event"))

  /** The delivered body: the envelope row serialized as the reference's
    * JSON payload (`cdc_webhook--1.0.sql:252-280`). The one definition the
    * SYNC sink posts and the ASYNC queue stores. */
  def payloadJson: Column =
    to_json(struct(col("id"), col("created_at"), col("table"),
      col("trigger"), col("event")))

  /** Full capture pipeline for one trigger over a change-row frame. */
  def capture(changes: DataFrame, cfg: TriggerConfig): DataFrame =
    changes
      .filter(operationFilter(cfg))
      .filter(updateGate(cfg))
      .select(envelope(cfg): _*)

  /** P6 — secret-stripping projection for delivery logs (`README.md:135-143`):
    * header values never appear in logs/errors; the reference substitutes the
    * placeholder name, we do the same literally. */
  def redact(deliveryLog: DataFrame): DataFrame =
    if (deliveryLog.columns.contains("headers"))
      deliveryLog.withColumn("headers", lit("webhook_headers"))
    else deliveryLog
}
