package graft.queue

import java.nio.file.Files

import graft.SparkTestSession
import graft.cdc.{ChangeCapture, Emp, SnapshotDiff}
import graft.delivery.{CaptureServer, WebhookSink}
import graft.model.TriggerConfig
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors test_security_none / test_security_private (SURVEY §5): S5 upsert
  * semantics, J1 broadcast resolution, and the secrecy contract — PRIVATE
  * keeps url/headers out of the query plan, NONE inlines them (exactly the
  * reference's function-source visibility split). */
class CredentialStoreSpec extends AnyFunSuite with SparkTestSession with BeforeAndAfterAll {
  import spark.implicits._

  private var server: CaptureServer = _
  override def beforeAll(): Unit = { server = new CaptureServer }
  override def afterAll(): Unit = server.stop()

  private def cfg(url: String, security: String) = TriggerConfig(
    name = "sec_t", tableName = "employees",
    operations = Seq("INSERT", "UPDATE", "DELETE"), webhookUrl = url,
    headers = Map("X-API-Key" -> "supersecretvalue"), security = security)

  private def envelopes(c: TriggerConfig) = ChangeCapture.capture(
    SnapshotDiff.diff(
      Seq(Emp(2, "bob", 200)).toDF(),
      Seq(Emp(1, "alice", 100), Emp(2, "bob", 250)).toDF(),
      Seq("id")), c)

  test("upsert: ON CONFLICT DO UPDATE semantics — one row per key, latest wins") {
    val dir = Files.createTempDirectory("graft_creds_").toString + "/credentials"
    CredentialStore.upsert(spark, dir, cfg("http://first/hook", "PRIVATE"))
    CredentialStore.upsert(spark, dir, cfg("http://second/hook", "PRIVATE"))
    val other = cfg("http://other/hook", "PRIVATE").copy(name = "other_t")
    CredentialStore.upsert(spark, dir, other)
    val rows = CredentialStore.read(spark, dir)
      .select($"trigger_name", $"webhook_url").as[(String, String)].collect().toSet
    assert(rows == Set(("sec_t", "http://second/hook"), ("other_t", "http://other/hook")))
  }

  test("audit semantics: updated_at advances on every upsert of a key") {
    // the reference's credentials_audit_trigger stamps NEW.updated_at :=
    // CURRENT_TIMESTAMP on update (cdc_webhook--1.0.sql:72-86); here the
    // upsert path is the only writer, so the stamp lives there
    val dir = Files.createTempDirectory("graft_creds_audit_").toString + "/credentials"
    CredentialStore.upsert(spark, dir, cfg("http://first/hook", "PRIVATE"))
    val t1 = CredentialStore.read(spark, dir)
      .select($"updated_at").as[java.sql.Timestamp].head()
    Thread.sleep(5)
    CredentialStore.upsert(spark, dir, cfg("http://second/hook", "PRIVATE"))
    val t2 = CredentialStore.read(spark, dir)
      .select($"updated_at").as[java.sql.Timestamp].head()
    assert(t2.after(t1), s"updated_at must advance: $t1 -> $t2")
  }

  test("upserts commit whole snapshots: a reader resolving in a loop " +
    "never fails and always sees every key committed so far") {
    val dir = Files.createTempDirectory("graft_creds_hammer_").toString + "/credentials"
    val names = (0 until 20).map(i => s"t$i")
    CredentialStore.upsert(spark, dir, cfg("http://t/0", "PRIVATE").copy(name = names.head))
    val firstEnv = envelopes(cfg("http://t/0", "PRIVATE").copy(name = names.head))
      .localCheckpoint()
    val committed = new java.util.concurrent.atomic.AtomicInteger(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        val floor = committed.get()
        try {
          val urls = CredentialStore.resolve(firstEnv, spark, dir)
            .select($"resolved_url").as[String].collect().toSet
          if (urls != Set("http://t/0")) failures.add(s"resolved $urls")
          val keys = CredentialStore.read(spark, dir)
            .select($"trigger_name").as[String].collect().toSet
          val missing = names.take(floor).filterNot(keys)
          if (missing.nonEmpty) failures.add(s"committed keys missing: $missing")
        } catch { case e: Throwable => failures.add(e.toString) }
      }
    })
    reader.start()
    try names.tail.zipWithIndex.foreach { case (n, i) =>
      CredentialStore.upsert(spark, dir, cfg(s"http://t/${i + 1}", "PRIVATE").copy(name = n))
      committed.incrementAndGet()
    } finally { stop = true; reader.join(60000) }
    assert(failures.isEmpty, failures.toArray.take(5).mkString("\n"))
    assert(CredentialStore.read(spark, dir).select($"trigger_name").as[String]
      .collect().toSet == names.toSet)
  }

  test("an upsert that loses the commit race throws instead of dropping " +
    "the winner's row") {
    val dir = Files.createTempDirectory("graft_creds_race_").toString + "/credentials"
    CredentialStore.upsert(spark, dir, cfg("http://first/hook", "PRIVATE"))
    val winner = cfg("http://winner/hook", "PRIVATE").copy(name = "winner_t")
    val loser = cfg("http://loser/hook", "PRIVATE").copy(name = "loser_t")
    // the winner commits after the loser published its snapshot and
    // before the loser's tip check
    intercept[ConcurrentWriterException] {
      CredentialStore.upsert(spark, dir, loser, {
        case "published" => CredentialStore.upsert(spark, dir, winner)
        case _ => ()
      })
    }
    val rows = CredentialStore.read(spark, dir)
      .select($"trigger_name", $"webhook_url").as[(String, String)].collect().toSet
    assert(rows == Set(("sec_t", "http://first/hook"), ("winner_t", "http://winner/hook")))
  }

  test("resolve: broadcast lookup attaches stored url/headers to envelopes") {
    val dir = Files.createTempDirectory("graft_creds_").toString + "/credentials"
    val c = cfg(server.url, "PRIVATE")
    CredentialStore.upsert(spark, dir, c)
    val resolved = CredentialStore.resolve(envelopes(c), spark, dir)
    val r = resolved.select($"resolved_url", $"resolved_headers").distinct().head()
    assert(r.getString(0) == server.url)
    assert(r.getString(1).contains("supersecretvalue"))
  }

  test("PRIVATE delivery works end-to-end and keeps secrets out of the plan") {
    server.received.clear()
    val dir = Files.createTempDirectory("graft_creds_").toString + "/credentials"
    val c = cfg(server.url, "PRIVATE")
    CredentialStore.upsert(spark, dir, c)
    // the config used at delivery time carries NO secrets in PRIVATE mode
    val placeboCfg = c.copy(webhookUrl = "http://placeholder.invalid/", headers = Map.empty)
    val env = envelopes(placeboCfg)
    val plan = graft.queue.CredentialStore.resolve(env, spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("supersecretvalue") && !plan.contains(server.url))
    WebhookSink.deliverBatch(env, placeboCfg, credentialsDir = Some(dir))
    assert(server.bodies.length == 2)
    val it = server.received.iterator()
    var sawKey = false
    while (it.hasNext) sawKey |= it.next()._2.exists {
      case (k, v) => k.equalsIgnoreCase("x-api-key") && v == "supersecretvalue"
    }
    assert(sawKey) // secrets reach the wire, just never the plan/logs
  }

  test("NONE mode inlines credentials as plan literals (reference parity)") {
    val c = cfg(server.url, "NONE")
    // reproduce deliverBatch's addressing projection for NONE
    import org.apache.spark.sql.functions._
    val addressed = envelopes(c)
      .withColumn("_url", lit(c.webhookUrl))
      .withColumn("_headers", lit(graft.delivery.HeadersCodec.toJson(c.headers)))
    assert(addressed.queryExecution.executedPlan.toString.contains("supersecretvalue"))
  }
}
