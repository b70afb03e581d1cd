package graft.queue

import graft.model.TriggerConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PRIVATE-mode credential storage — the reference's
  * `cdc_webhook.credentials` table (`cdc_webhook--1.0.sql:10-22`) with its
  * `INSERT … ON CONFLICT (schema,table,name) DO UPDATE` upsert
  * (`cdc_webhook--1.0.sql:188-194`, SURVEY §2.1 S5) and fire-time point
  * lookup (`cdc_webhook--1.0.sql:242-248`, §2.3 J1).
  *
  * Spark has no unique-key constraints, so the upsert is explicit:
  * new rows anti-join out the old versions of their key, then union —
  * a Delta `MERGE` in production; the dataset is a tiny dimension either
  * way. Resolution at delivery time is a broadcast hash join: zero shuffle
  * on the event side at any scale.
  *
  * Each upsert writes the whole merged store as the next [[VersionedDir]]
  * snapshot, so a PRIVATE trigger resolving mid-upsert reads the old or
  * the new store whole, a crash loses no committed credential, and of two
  * racing upserts the loser throws [[ConcurrentWriterException]] instead
  * of dropping the winner's row.
  *
  * Security contract (§5 test_security_private): with PRIVATE, the webhook
  * url/headers live ONLY here — TriggerConfig carries placeholders, plans
  * and logs never embed the secret values.
  */
object CredentialStore {

  final case class Credential(
      trigger_schema: String, trigger_table: String, trigger_name: String,
      webhook_url: String, headers: String,
      updated_at: java.sql.Timestamp)

  private val key = Seq("trigger_schema", "trigger_table", "trigger_name")

  /** S5: upsert this trigger's url/headers under its 3-column key. */
  def upsert(spark: SparkSession, storeDir: String, cfg: TriggerConfig): Unit =
    upsert(spark, storeDir, cfg, _ => ())

  /** [[upsert]] with [[VersionedDir.commit]]'s step seam exposed. */
  private[queue] def upsert(spark: SparkSession, storeDir: String,
                            cfg: TriggerConfig, onStep: String => Unit): Unit = {
    import spark.implicits._
    val incoming = Seq(Credential(
      cfg.schemaName, cfg.tableName, cfg.name, cfg.webhookUrl,
      graft.delivery.HeadersCodec.toJson(cfg.headers),
      new java.sql.Timestamp(System.currentTimeMillis()))).toDF()
    val base = VersionedDir.resolve(java.nio.file.Paths.get(storeDir))
    val merged =
      if (base.version == 0L) incoming
      else readAt(spark, base.path.toString)
        .join(incoming, key, "left_anti").unionByName(incoming)
    val stage = VersionedDir.stage(base)
    merged.coalesce(1).write.parquet(stage.toString)
    VersionedDir.commit(base, stage, onStep = onStep)
  }

  /** J1: resolve url/headers for envelope rows of one trigger — broadcast
    * hash equi-join on the 3-column key. */
  def resolve(envelopes: DataFrame, spark: SparkSession, storeDir: String): DataFrame = {
    val creds = read(spark, storeDir).select(
      col("trigger_schema"), col("trigger_table"), col("trigger_name"),
      col("webhook_url").as("resolved_url"), col("headers").as("resolved_headers"))
    envelopes
      .withColumn("trigger_schema", col("table.schema"))
      .withColumn("trigger_table", col("table.name"))
      .withColumn("trigger_name", col("trigger.name"))
      .join(broadcast(creds), key, "left")
      .drop(key: _*)
  }

  /** The live credential snapshot. */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    readAt(spark, VersionedDir.resolveDir(storeDir))

  private def readAt(spark: SparkSession, snapshotDir: String): DataFrame =
    spark.read.schema(org.apache.spark.sql.Encoders.product[Credential].schema)
      .parquet(snapshotDir)
}
