package graft

import graft.cdc.ChangeCapture
import graft.delivery.{HttpPoster, JdkHttpPoster}
import graft.model.TriggerConfig
import graft.queue.CredentialStore
import graft.streaming.ChangeStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Control plane — the Spark analog of the reference's
  * `create_event_trigger(...)` entry point (`cdc_webhook--1.0.sql:116-366`,
  * SURVEY §3.1).
  *
  * Where the reference validates, routes credentials, code-generates a
  * specialized plpgsql function and binds a trigger, this registry:
  *   1. validates eagerly (TriggerConfig's V1-V8 `require`s fire at
  *      construction — before any job starts);
  *   2. routes credentials: PRIVATE upserts into the credential store and
  *      scrubs secrets from the retained config (S5); NONE keeps them inline;
  *   3. "specializes" by closing the config over a declarative capture plan —
  *      constants fold into the plan instead of into generated SQL text;
  *   4. binds the trigger by starting a StreamingQuery over the change feed
  *      (SYNC webhook sink or ASYNC durable queue).
  *
  * Idempotent per trigger name, like the reference's drop-and-recreate DDL
  * (`cdc_webhook--1.0.sql:355-366`): re-creating a name replaces the running
  * query.
  */
final class TriggerRegistry(
    spark: SparkSession,
    credentialsDir: String,
    queueDir: String,
    checkpointRoot: String,
    poster: HttpPoster = JdkHttpPoster) {

  private val active = scala.collection.concurrent.TrieMap.empty[String, StreamingQuery]

  /** Register (or replace) a trigger over a streaming change feed of
    * `(op, old, new)` rows. Returns the started query. */
  def create(cfg: TriggerConfig, changeFeed: DataFrame): StreamingQuery = synchronized {
    val retained = cfg.security match {
      case "PRIVATE" =>
        CredentialStore.upsert(spark, credentialsDir, cfg)
        // secrets live only in the store from here on (test_security_private)
        cfg.copy(webhookUrl = "private://credential-store", headers = Map.empty)
      case _ => cfg
    }
    drop(cfg.name)
    val envelopes = ChangeCapture.capture(changeFeed, retained)
    val writer = ChangeStream
      .deliveryWriter(envelopes, retained, queueDir, poster,
        credentialsDir = if (cfg.security == "PRIVATE") Some(credentialsDir) else None)
      .option("checkpointLocation", s"$checkpointRoot/${cfg.name}")
      .queryName(s"graft_trigger_${cfg.name}")
    val q = writer.start()
    active.put(cfg.name, q)
    q
  }

  /** Drop a trigger (stop its query). Idempotent. */
  def drop(name: String): Unit = synchronized {
    active.remove(name).foreach { q => if (q.isActive) q.stop() }
  }

  def list: Seq[String] = active.keys.toSeq.sorted

  def stopAll(): Unit = synchronized { list.foreach(drop) }
}
