package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestSession
import graft.cdc.{ChangeCapture, Emp}
import graft.delivery.{CaptureServer, HttpPoster, JdkHttpPoster}
import graft.model.TriggerConfig
import graft.queue.{Dispatcher, EventLog}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** §3's FULL path in one spec — the composition the reference's own suite
  * exercises end-to-end (`tests/test_all_operations.py:9-51`: one trigger on
  * INSERT/UPDATE/DELETE, then each operation's webhook asserted field by
  * field): change stream → capture (op filter, envelope) → durable enqueue →
  * streaming dispatcher → HTTP endpoint, with one injected worker crash
  * mid-drain (the reference worker dies ~10% of iterations,
  * `src/cdc_webhook_worker.c:48-53`, and its queue carries the recovery).
  * Every stage has its own spec; this one proves they compose. */
object EndToEndPipelineSpec {
  /** Own crash budget (not CrashRecoverySpec's) so concurrently-running
    * suites cannot interfere with each other's injection counts. */
  val crashesLeft = new AtomicInteger(0)
}

final class E2eCrashPoster extends HttpPoster {
  override def post(url: String, headers: Map[String, String], body: String,
                    timeoutMs: Long): (Int, String) = {
    val r = JdkHttpPoster.post(url, headers, body, timeoutMs)
    if (EndToEndPipelineSpec.crashesLeft.getAndUpdate(n => math.max(0, n - 1)) > 0)
      throw new RuntimeException("injected dispatcher crash (reference: exit(1) at 10%)")
    r
  }
}

case class E2eChange(op: String, oldImage: Emp, newImage: Emp)

class EndToEndPipelineSpec extends AnyFunSuite with SparkTestSession with BeforeAndAfterAll {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var server: CaptureServer = _
  override def beforeAll(): Unit = { server = new CaptureServer }
  override def afterAll(): Unit = server.stop()

  test("capture → enqueue → streaming dispatcher → webhook, surviving a mid-drain crash") {
    val root = Files.createTempDirectory("graft_e2e_").toString
    val queueDir = root + "/event_log"
    val cfg = TriggerConfig(
      name = "employee_all_ops", tableName = "employees",
      operations = Seq("INSERT", "UPDATE", "DELETE"),
      webhookUrl = server.url,
      headers = Map("X-API-Key" -> "test-key"), mode = "ASYNC",
      retryNumber = 3, retryInterval = 1, retryBackoff = "LINEAR")

    // ── stage 1: the change feed, mirroring the reference test's three DML ops
    val ms = MemoryStream[E2eChange]
    ms.addData(
      E2eChange("INSERT", null, Emp(1, "John Doe", 60000)),
      E2eChange("UPDATE", Emp(1, "John Doe", 60000), Emp(1, "John Doe", 65000)),
      E2eChange("DELETE", Emp(1, "John Doe", 65000), null))
    val changes = ms.toDF()
      .select($"op", $"oldImage".as("old"), $"newImage".as("new"))

    // ── stage 2+3: streaming capture → envelope → durable ASYNC enqueue
    server.received.clear()
    val capQ = ChangeStream
      .deliveryWriter(ChangeCapture.capture(changes, cfg), cfg, queueDir)
      .option("checkpointLocation", root + "/cap_ckpt").start()
    try capQ.processAllAvailable() finally capQ.stop()
    val enqueued = EventLog.read(spark, queueDir).as[EventLog.QueueRow].collect()
    assert(enqueued.length == 3 && enqueued.forall(_.status == "PENDING"))
    assert(enqueued.forall(_.trigger_name == "employee_all_ops"))
    val queueIds = enqueued.map(_.id).toSet

    // ── stage 4: the streaming dispatcher drains; the FIRST delivery crashes
    // the worker after its post landed (worst order: side effect done, state
    // transition lost). Structured Streaming's restart takes the place of
    // the reference's postmaster: same checkpoint, queue state recovers.
    EndToEndPipelineSpec.crashesLeft.set(1)
    val dispCkpt = root + "/disp_ckpt"
    val q1 = StreamingDispatcher.start(spark, queueDir, new E2eCrashPoster,
      checkpointDir = dispCkpt, intervalMs = 100L)
    val deadline = System.currentTimeMillis() + 30000
    while (q1.isActive && System.currentTimeMillis() < deadline) Thread.sleep(100L)
    assert(!q1.isActive, "the injected crash must terminate the first query")
    assert(q1.exception.isDefined, "query must surface the worker crash")

    // the crashed query's writer lease releases on its termination event
    // (async) — the restart waits for it, as a real supervisor would
    val leaseDeadline = System.currentTimeMillis() + 10000
    while (graft.queue.PendingStore.leaseHolder(queueDir).isDefined &&
      System.currentTimeMillis() < leaseDeadline) Thread.sleep(50L)
    val q2 = StreamingDispatcher.start(spark, queueDir, new E2eCrashPoster,
      checkpointDir = dispCkpt, intervalMs = 100L)
    try {
      val d2 = System.currentTimeMillis() + 30000
      while (Dispatcher.hasPending(spark, queueDir)) { // no catch/retry: reads are atomic
        assert(System.currentTimeMillis() < d2, "restarted dispatcher did not drain")
        Thread.sleep(200L)
      }
    } finally q2.stop()

    // ── queue converged exactly-once in the terminal VIEW
    val terminal = EventLog.read(spark, queueDir).as[EventLog.QueueRow].collect()
    assert(terminal.length == 3 && terminal.forall(_.status == "DELIVERED"),
      s"got ${terminal.map(r => r.id -> r.status).toSeq}")
    assert(EventLog.terminalHistory(spark, queueDir).count() == 3)

    // ── the wire: at-least-once accounting across the crash — the crashed
    // cycle's post happened, so its row re-delivers under the SAME id
    val bodies = server.bodies
    assert(bodies.length >= 3, s"expected >=3 posts, got ${bodies.length}")
    val posted = spark.read.json(bodies.toDS())
    val postedIds = posted.select($"id").as[String].collect()
    assert(postedIds.toSet == queueIds, "every post carries a queued envelope id")
    assert(postedIds.length > postedIds.toSet.size,
      "the crashed-then-replayed delivery must appear twice (at-least-once)")

    // ── envelope fields, per operation — the reference test's assertions
    // (test_all_operations.py:31-50) against our own payloads. Row images
    // are JSON strings inside the envelope (row_to_json parity), so the
    // nested fields are pulled with get_json_object.
    import org.apache.spark.sql.functions.get_json_object
    val byOp = posted
      .select($"event.op".as("op"),
        $"event.data.old".isNull.as("old_null"),
        $"event.data.new".isNull.as("new_null"),
        get_json_object($"event.data.old", "$.name").as("old_name"),
        get_json_object($"event.data.old", "$.salary").as("old_salary"),
        get_json_object($"event.data.new", "$.name").as("new_name"),
        get_json_object($"event.data.new", "$.salary").as("new_salary"),
        $"table.schema".as("tschema"), $"table.name".as("tname"),
        $"trigger.name".as("trname"))
      .collect().groupBy(_.getAs[String]("op"))
    assert(byOp.keySet == Set("INSERT", "UPDATE", "DELETE"))
    val ins = byOp("INSERT").head
    assert(ins.getAs[Boolean]("old_null") && !ins.getAs[Boolean]("new_null"))
    assert(ins.getAs[String]("new_name") == "John Doe")
    assert(ins.getAs[String]("new_salary") == "60000")
    val upd = byOp("UPDATE").head
    assert(upd.getAs[String]("new_salary") == "65000")
    assert(upd.getAs[String]("old_salary") == "60000")
    val del = byOp("DELETE").head
    assert(del.getAs[String]("old_name") == "John Doe")
    assert(del.getAs[Boolean]("new_null") && !del.getAs[Boolean]("old_null"))
    byOp.values.flatten.foreach { r =>
      assert(r.getAs[String]("tschema") == "public" &&
        r.getAs[String]("tname") == "employees" &&
        r.getAs[String]("trname") == "employee_all_ops")
    }

    // ── configured headers reach the wire on every delivery
    val it = server.received.iterator()
    while (it.hasNext) {
      val (_, headers) = it.next()
      assert(headers.get("X-api-key").orElse(headers.get("X-API-Key")).contains("test-key"),
        s"missing X-API-Key in $headers")
    }
  }
}
