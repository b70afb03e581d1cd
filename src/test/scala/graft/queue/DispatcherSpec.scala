package graft.queue

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.CompletableFuture

import scala.collection.mutable.ArrayBuffer

import graft.SparkTestSession
import graft.cdc.{ChangeCapture, Emp, SnapshotDiff}
import graft.delivery.{CaptureServer, HttpPoster}
import graft.model.TriggerConfig
import graft.queue.EventLog.QueueRow
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Holds every POST until `expected` have arrived, then completes them in
  * reverse arrival order — or, as a guard against a hung test, whatever it
  * holds after 10 s. Static so executor threads in the local JVM share it. */
object ReverseOrderPoster {
  private val held = ArrayBuffer.empty[(String, CompletableFuture[(Int, String)])]
  private var expected = 0
  private var outcome: String => (Int, String) = _ => (200, "")
  /** Event ids in the order their POSTs arrived, and completed. */
  val arrived = ArrayBuffer.empty[String]
  val completed = ArrayBuffer.empty[String]

  def reset(n: Int, f: String => (Int, String)): Unit = synchronized {
    held.clear(); arrived.clear(); completed.clear(); expected = n; outcome = f
    val guard = new Thread(() => { Thread.sleep(10000L); release() })
    guard.setDaemon(true); guard.start()
  }

  def arrive(id: String, f: CompletableFuture[(Int, String)]): Unit = synchronized {
    held += id -> f
    arrived += id
    if (held.size == expected) release()
  }

  private def release(): Unit = {
    val out = synchronized {
      val r = held.reverse.toList; held.clear()
      completed ++= r.map(_._1); r
    }
    out.foreach { case (id, f) => f.complete(outcome(id)) }
  }
}

final class ReverseOrderPoster extends HttpPoster {
  override def post(url: String, headers: Map[String, String], body: String,
                    timeoutMs: Long): (Int, String) =
    sys.error("the dispatcher posts through postAsync")
  override def postAsync(url: String, headers: Map[String, String], body: String,
                         timeoutMs: Long): CompletableFuture[(Int, String)] = {
    val f = new CompletableFuture[(Int, String)]()
    ReverseOrderPoster.arrive(DispatcherSpec.idOf(body), f)
    f
  }
}

object DispatcherSpec {
  def idOf(body: String): String =
    """"id":"([0-9a-f-]+)"""".r.findFirstMatchIn(body).map(_.group(1))
      .getOrElse(sys.error(s"no id in $body"))
}

/** ASYNC mode end-to-end: enqueue → durable PENDING → dispatcher cycles with
  * next_attempt rescheduling → DELIVERED / FAILED with attempt history
  * (completing the reference worker's TODO drain loop against its own
  * event_log schema). */
class DispatcherSpec extends AnyFunSuite with SparkTestSession with BeforeAndAfterAll {
  import spark.implicits._

  private var server: CaptureServer = _
  override def beforeAll(): Unit = { server = new CaptureServer }
  override def afterAll(): Unit = server.stop()

  private def asyncCfg(url: String, retries: Int = 2) = TriggerConfig(
    name = "async_t", tableName = "employees",
    operations = Seq("INSERT", "UPDATE", "DELETE"), webhookUrl = url,
    headers = Map("X-API-Key" -> "qkey"), mode = "ASYNC",
    retryNumber = retries, retryInterval = 2, retryBackoff = "EXPONENTIAL")

  private def freshQueue(c: TriggerConfig): String = {
    val dir = Files.createTempDirectory("graft_queue_").toString + "/event_log"
    val env = ChangeCapture.capture(
      SnapshotDiff.diff(
        Seq(Emp(2, "bob", 200)).toDF(),
        Seq(Emp(1, "alice", 100), Emp(2, "bob", 250)).toDF(),
        Seq("id")), c)
    EventLog.enqueue(env, c, dir)
    dir
  }

  private def rows(dir: String): Seq[QueueRow] =
    EventLog.read(spark, dir).as[QueueRow].collect().toSeq

  test("enqueue: durable PENDING rows carry config + payload + empty history") {
    val dir = freshQueue(asyncCfg(server.url))
    val rs = rows(dir)
    assert(rs.length == 2)
    assert(rs.forall(r => r.status == "PENDING" && r.attempt_count == 0 &&
      r.attempts_time.isEmpty && r.retry_number == 2 &&
      r.retry_backoff == "EXPONENTIAL" && r.trigger_name == "async_t" &&
      r.payload.contains(""""op":""")))
  }

  test("not-due rows are untouched (next_attempt scheduling respected)") {
    val dir = freshQueue(asyncCfg(server.url))
    val past = new Timestamp(System.currentTimeMillis() - 3600 * 1000L)
    val stats = Dispatcher.runOnce(spark, dir, now = past)
    assert(stats.due == 0)
    assert(stats.queueDepth == 2 && stats.oldestPendingAgeMs == 0L,
      "rows created after the cycle clock have no age yet")
    assert(rows(dir).forall(_.status == "PENDING"))
  }

  test("happy path: due PENDING → DELIVERED with one recorded attempt") {
    server.received.clear()
    val dir = freshQueue(asyncCfg(server.url))
    val enqueued = rows(dir)
    // the cycle clock is strictly after enqueue, so the audit touch is observable
    val cycleAt = new Timestamp(enqueued.map(_.updated_at.getTime).max + 1000L)
    val stats = Dispatcher.runOnce(spark, dir, now = cycleAt)
    assert(stats.due == 2 && stats.delivered == 2 && stats.failed == 0)
    assert(stats.queueDepth == 0 && stats.oldestPendingAgeMs == 0L)
    val rs = rows(dir)
    assert(rs.forall(r => r.status == "DELIVERED" && r.attempt_count == 1 &&
      r.attempts_status == Seq(200) && r.attempts_time.length == 1))
    // updated_at advances on the PENDING→terminal transition (the
    // reference's audit trigger, cdc_webhook--1.0.sql:87-100) while
    // created_at stays the enqueue time
    assert(rs.forall(r => r.updated_at == cycleAt && r.updated_at.after(r.created_at)))
    assert(server.bodies.length == 2)
  }

  test("failure path: reschedules with backoff then FAILS after retry_number+1 attempts") {
    val dir = freshQueue(asyncCfg("http://127.0.0.1:1/webhook", retries = 2))
    val t0 = System.currentTimeMillis()

    val s1 = Dispatcher.runOnce(spark, dir, now = new Timestamp(t0))
    assert(s1.due == 2 && s1.rescheduled == 2)
    val r1 = rows(dir)
    assert(r1.forall(r => r.status == "PENDING" && r.attempt_count == 1))
    // EXPONENTIAL interval=2, first retry delay = 2s
    assert(r1.forall(_.next_attempt.getTime == t0 + 2000))
    // depth and oldest age, observed on the cycle's one write
    val oldest = r1.map(_.created_at.getTime).min
    assert(s1.queueDepth == 2 && s1.oldestPendingAgeMs == t0 - oldest)
    // nothing due before t0 + 2 s: an idle cycle answers from the manifest
    val idle = Dispatcher.runOnce(spark, dir, now = new Timestamp(t0 + 1000))
    assert(idle == Dispatcher.CycleStats(0, 0, 0, 0, 2, t0 + 1000 - oldest))

    // advance injected clock past each scheduled retry — no real sleeping
    val s2 = Dispatcher.runOnce(spark, dir, now = new Timestamp(t0 + 2000))
    assert(s2.due == 2 && s2.rescheduled == 2)
    val r2 = rows(dir)
    assert(r2.forall(r => r.attempt_count == 2 &&
      r.next_attempt.getTime == t0 + 2000 + 4000)) // second delay = 4s

    val s3 = Dispatcher.runOnce(spark, dir, now = new Timestamp(t0 + 7000))
    assert(s3.due == 2 && s3.failed == 2)
    assert(s3.queueDepth == 0 && s3.oldestPendingAgeMs == 0L)
    val r3 = rows(dir)
    assert(r3.forall(r => r.status == "FAILED" && r.attempt_count == 3 &&
      r.attempts_status == Seq(0, 0, 0) && r.attempts_time.length == 3 &&
      r.attempts_response.length == 3))
  }

  test("mixed queue: delivered rows stay DELIVERED across later cycles") {
    server.received.clear()
    val dir = freshQueue(asyncCfg(server.url))
    Dispatcher.runOnce(spark, dir)
    val stats2 = Dispatcher.runOnce(spark, dir)
    assert(stats2.due == 0)
    assert(rows(dir).forall(_.status == "DELIVERED"))
  }

  test("windowed POSTs completing in reverse order: each row takes its own response") {
    val c = asyncCfg("http://unused.invalid/webhook", retries = 2)
    val dir = Files.createTempDirectory("graft_queue_rev_").toString + "/event_log"
    val env = ChangeCapture.capture(
      SnapshotDiff.diff(Seq.empty[Emp].toDF(),
        (1 to 6).map(i => Emp(i, s"r$i", i * 100)).toDF(), Seq("id")), c)
    // one spool file: all six rows in one task, so all are in flight at once
    EventLog.enqueue(env.coalesce(1), c, dir)
    val ids = rows(dir).map(_.id).sorted
    assert(ids.length == 6 && Dispatcher.PostWindow >= 6)
    val want: Map[String, (Int, String)] = ids.zipWithIndex.map { case (id, i) =>
      id -> (i / 2 match {
        case 0 => (200, s"ok-$id")
        case 1 => (503, s"busy-$id")
        case _ => (0, s"connection refused-$id") // transport failure
      })
    }.toMap
    ReverseOrderPoster.reset(6, want)
    val t0 = System.currentTimeMillis()
    val stats = Dispatcher.runOnce(spark, dir, new ReverseOrderPoster, now = new Timestamp(t0))
    val (arrived, completed) = ReverseOrderPoster.synchronized(
      (ReverseOrderPoster.arrived.toList, ReverseOrderPoster.completed.toList))
    assert(arrived.sorted == ids && completed == arrived.reverse,
      s"every POST in flight at once, completed in reverse: $arrived -> $completed")
    assert(stats.due == 6 && stats.delivered == 2 && stats.rescheduled == 4 && stats.failed == 0)
    assert(stats.queueDepth == 4)
    val byId = rows(dir).map(r => r.id -> r).toMap
    assert(byId.keySet == ids.toSet)
    want.foreach { case (id, (code, resp)) =>
      val r = byId(id)
      assert(r.attempt_count == 1 && r.attempts_status == Seq(code) &&
        r.attempts_response == Seq(resp) && r.attempts_time == Seq(new Timestamp(t0)), r)
      if (code == 200) assert(r.status == "DELIVERED" && r.next_attempt.getTime <= t0, r)
      else assert(r.status == "PENDING" && r.next_attempt.getTime == t0 + 2000, r)
    }
  }

  test("job counts: a busy cycle runs 1 Spark job; an idle cycle and hasPending run 0") {
    val dir = freshQueue(asyncCfg(server.url))
    val (pendingJobs, pending) = jobsOf(Dispatcher.hasPending(spark, dir))
    assert(pending && pendingJobs == 0)
    val (busyJobs, busy) = jobsOf(Dispatcher.runOnce(spark, dir))
    assert(busy.delivered == 2 && busyJobs == 1)
    val (idleJobs, idle) = jobsOf(Dispatcher.runOnce(spark, dir))
    assert(idle.due == 0 && idleJobs == 0)
    val (drainedJobs, drained) = jobsOf(Dispatcher.hasPending(spark, dir))
    assert(!drained && drainedJobs == 0)
  }

  test("an enqueue batch with no rows leaves no spool and nothing pending") {
    val c = asyncCfg(server.url)
    val dir = Files.createTempDirectory("graft_queue_empty_").toString + "/event_log"
    val env = ChangeCapture.capture(
      SnapshotDiff.diff(Seq(Emp(1, "same", 1)).toDF(), Seq(Emp(1, "same", 1)).toDF(),
        Seq("id")), c)
    EventLog.enqueue(env, c, dir)
    assert(PendingStore.listInbox(dir).isEmpty)
    assert(!Dispatcher.hasPending(spark, dir))
  }
}
