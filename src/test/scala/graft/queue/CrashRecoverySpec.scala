package graft.queue

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestSession
import graft.cdc.{ChangeCapture, Emp, SnapshotDiff}
import graft.delivery.{CaptureServer, HttpPoster, JdkHttpPoster}
import graft.model.TriggerConfig
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Supervised-restart contract of the reference worker
  * (`src/cdc_webhook_worker.c:48-53,91`): the worker crashes mid-cycle —
  * AFTER a webhook fired but before any queue state landed — and a
  * supervisor restarts it. Delivery must still complete for every row,
  * with duplicate posts sharing envelope ids (at-least-once, T2). */
object CrashRecoverySpec {
  /** Static so executor threads in the local JVM share the budget. */
  val crashesLeft = new AtomicInteger(0)
  /** Event ids [[RefusingPoster]] answers 503, and every id it was sent. */
  @volatile var refused: Set[String] = Set.empty
  val posted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** No network: 503 for the ids in `CrashRecoverySpec.refused`, else 200. */
final class RefusingPoster extends HttpPoster {
  override def post(url: String, headers: Map[String, String], body: String,
                    timeoutMs: Long): (Int, String) = {
    val id = """"id":"([0-9a-f-]+)"""".r.findFirstMatchIn(body).map(_.group(1)).get
    CrashRecoverySpec.posted.add(id)
    if (CrashRecoverySpec.refused(id)) (503, "busy") else (200, "ok")
  }
}

/** Posts for real, then dies — the worst-ordered crash: the side effect
  * happened, the state transition did not. */
final class CrashAfterPostPoster extends HttpPoster {
  override def post(url: String, headers: Map[String, String], body: String,
                    timeoutMs: Long): (Int, String) = {
    val r = JdkHttpPoster.post(url, headers, body, timeoutMs)
    if (CrashRecoverySpec.crashesLeft.getAndUpdate(n => math.max(0, n - 1)) > 0)
      throw new RuntimeException("injected worker crash (reference: exit(1) at 10%)")
    r
  }
}

class CrashRecoverySpec extends AnyFunSuite with SparkTestSession with BeforeAndAfterAll {
  import spark.implicits._

  private var server: CaptureServer = _
  override def beforeAll(): Unit = { server = new CaptureServer }
  override def afterAll(): Unit = server.stop()

  test("delivery completes despite injected mid-cycle crashes; duplicates share ids") {
    val cfg = TriggerConfig(
      name = "crash_t", tableName = "employees",
      operations = Seq("INSERT"), webhookUrl = server.url,
      headers = Map.empty, mode = "ASYNC",
      retryNumber = 5, retryInterval = 1, retryBackoff = "LINEAR")
    val dir = Files.createTempDirectory("graft_crash_").toString + "/event_log"
    val emps = (1 to 6).map(i => Emp(i, s"e$i", i * 100))
    val env = ChangeCapture.capture(
      SnapshotDiff.diff(Seq.empty[Emp].toDF(), emps.toDF(), Seq("id")), cfg)
    EventLog.enqueue(env, cfg, dir)
    val expectedIds = EventLog.read(spark, dir)
      .select($"id").as[String].collect().toSet
    assert(expectedIds.size == 6)

    server.received.clear()
    CrashRecoverySpec.crashesLeft.set(3)
    val restarts = Dispatcher.supervise(spark, dir, new CrashAfterPostPoster,
      pollMs = 10L, restartDelayMs = 10L)

    assert(restarts >= 1, "at least one injected crash must abort a cycle")
    // Queue converged: everything DELIVERED, nothing PENDING left behind.
    assert(!Dispatcher.hasPending(spark, dir))
    val terminal = EventLog.read(spark, dir).as[EventLog.QueueRow].collect()
    assert(terminal.map(_.id).toSet == expectedIds)
    assert(terminal.forall(_.status == "DELIVERED"))
    // At-least-once at the wire: >= one post per row, and every duplicate
    // post carries an id from the same envelope set (no invented events).
    val postedIds = server.bodies.map { b =>
      val m = """"id":"([0-9a-f-]+)"""".r.findFirstMatchIn(b)
      m.map(_.group(1)).getOrElse(sys.error(s"no id in $b"))
    }
    assert(postedIds.toSet == expectedIds)
    assert(postedIds.length >= expectedIds.size,
      s"expected at-least-once: ${postedIds.length} posts for ${expectedIds.size} rows")
  }

  test("commit crash leaves only unreferenced dirs: restart drains with no repair step") {
    // The manifest commit's crash surface is "orphan dirs the manifest never
    // references" (PendingStoreSpec kills the writer between every pair of
    // steps). Here the dispatcher-level restart story: a crashed cycle left
    // an orphan snapshot AND a garbage spool temp; a restarted dispatcher
    // must read the intact manifest state, drain, and sweep the orphans —
    // no heal/repair step exists or is needed.
    val cfg = TriggerConfig(
      name = "heal_t", tableName = "employees",
      operations = Seq("INSERT"), webhookUrl = server.url,
      headers = Map.empty, mode = "ASYNC",
      retryNumber = 1, retryInterval = 1, retryBackoff = "LINEAR")
    val dir = Files.createTempDirectory("graft_heal_").toString + "/event_log"
    val env = ChangeCapture.capture(
      SnapshotDiff.diff(Seq.empty[Emp].toDF(),
        Seq(Emp(1, "h1", 100), Emp(2, "h2", 200)).toDF(), Seq("id")), cfg)
    EventLog.enqueue(env, cfg, dir)

    // ← the crash points: a snapshot written but never flipped to, and a
    //   spool that never completed its rename (both dot-/unreferenced)
    val orphanSnap = java.nio.file.Paths.get(dir, ".pending", "v1-0badf00d")
    java.nio.file.Files.createDirectories(orphanSnap)
    java.nio.file.Files.write(orphanSnap.resolve("part-junk.parquet"),
      "not parquet".getBytes)
    val halfSpool = java.nio.file.Paths.get(dir, ".pending", ".spool-crashed.tmp")
    java.nio.file.Files.createDirectories(halfSpool)
    java.nio.file.Files.write(halfSpool.resolve("part-0.parquet"),
      "not parquet".getBytes)

    assert(Dispatcher.hasPending(spark, dir),
      "restarted scan must see the enqueued rows despite crash leftovers")
    server.received.clear()
    Dispatcher.drain(spark, dir, pollMs = 10L)
    val terminal = EventLog.read(spark, dir).as[EventLog.QueueRow].collect()
    assert(terminal.length == 2 && terminal.forall(_.status == "DELIVERED"))
    assert(server.bodies.length == 2)
    // the real commit at v1 has its own name; its retention swept the orphan
    assert(graft.queue.PendingStore.manifest(dir).version >= 1L)
    assert(!java.nio.file.Files.exists(orphanSnap))
  }

  test("a cycle killed after its staged write, or after its terminal moves, replays cleanly") {
    val cfg = TriggerConfig(
      name = "stage_crash_t", tableName = "employees",
      operations = Seq("INSERT"), webhookUrl = server.url,
      headers = Map.empty, mode = "ASYNC",
      retryNumber = 2, retryInterval = 1, retryBackoff = "LINEAR")
    for (crashAt <- Seq("staged", "terminal-landed")) {
      val dir = Files.createTempDirectory("graft_stage_crash_").toString + "/event_log"
      val env = ChangeCapture.capture(
        SnapshotDiff.diff(Seq.empty[Emp].toDF(),
          (1 to 4).map(i => Emp(i, s"s$i", i * 100)).toDF(), Seq("id")), cfg)
      EventLog.enqueue(env, cfg, dir)
      def pendingIds(): Seq[String] =
        PendingStore.read(spark, dir).select($"id").as[String].collect().sorted.toSeq
      val ids = pendingIds()
      // half the events are refused, so the replay also reschedules
      CrashRecoverySpec.refused = ids.take(2).toSet
      CrashRecoverySpec.posted.clear()
      val t0 = System.currentTimeMillis()
      val err = intercept[RuntimeException] {
        Dispatcher.runOnce(spark, dir, new RefusingPoster, now = new java.sql.Timestamp(t0),
          onStep = s => if (s == crashAt) throw new RuntimeException(s"injected crash at $s"))
      }
      assert(err.getMessage.contains(crashAt))
      assert(CrashRecoverySpec.posted.size == 4, "the killed cycle posted every row")
      // no PENDING commit happened: every row still PENDING, once each
      assert(PendingStore.manifest(dir).version == 0L)
      assert(pendingIds() == ids, crashAt)

      // restart: the replay re-posts all four, reschedules the refused two
      val replay = Dispatcher.runOnce(spark, dir, new RefusingPoster, now = new java.sql.Timestamp(t0))
      assert(replay.due == 4 && replay.delivered == 2 && replay.rescheduled == 2)
      assert(pendingIds() == ids.take(2), s"$crashAt: rescheduled rows once each in PENDING")
      CrashRecoverySpec.refused = Set.empty
      val retry = Dispatcher.runOnce(spark, dir, new RefusingPoster,
        now = new java.sql.Timestamp(t0 + 1000))
      assert(retry.due == 2 && retry.delivered == 2)
      assert(!Dispatcher.hasPending(spark, dir) && pendingIds().isEmpty)

      val history = EventLog.terminalHistory(spark, dir).as[EventLog.QueueRow].collect()
      assert(history.map(_.id).sorted.toSeq == ids, s"$crashAt: one history row per event")
      assert(history.forall(_.status == "DELIVERED"))
      // the raw history holds the killed cycle's two landed deliveries again
      val raw = EventLog.read(spark, dir).filter($"status" === "DELIVERED").count()
      assert(raw == (if (crashAt == "terminal-landed") 6L else 4L), crashAt)
    }
  }
}
