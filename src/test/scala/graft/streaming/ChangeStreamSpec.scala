package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkTestSession
import graft.cdc.{ChangeCapture, Emp}
import graft.delivery.CaptureServer
import graft.model.TriggerConfig
import graft.queue.{Dispatcher, EventLog}
import graft.queue.EventLog.QueueRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

case class ChangeRec(op: String, oldImage: Emp, newImage: Emp)
case class Evt(ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** Streaming semantics (SURVEY §2.7): capture on a live stream, watermarked
  * windows, session windows, and the full ASYNC path
  * stream → enqueue → dispatcher → webhook. */
class ChangeStreamSpec extends AnyFunSuite with SparkTestSession with BeforeAndAfterAll {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var server: CaptureServer = _
  override def beforeAll(): Unit = { server = new CaptureServer }
  override def afterAll(): Unit = server.stop()

  private def cfg(mode: String, url: String) = TriggerConfig(
    name = "stream_t", tableName = "employees",
    operations = Seq("INSERT", "UPDATE", "DELETE"),
    webhookUrl = url, mode = mode)

  private def changeStream() = {
    val ms = MemoryStream[ChangeRec]
    ms.addData(
      ChangeRec("INSERT", null, Emp(1, "alice", 100)),
      ChangeRec("UPDATE", Emp(2, "bob", 200), Emp(2, "bob", 250)),
      ChangeRec("DELETE", Emp(3, "carol", 300), null))
    (ms, ms.toDF()
      .select($"op", $"oldImage".as("old"), $"newImage".as("new")))
  }

  test("streaming capture emits envelopes for a MemoryStream change feed") {
    val (_, changes) = changeStream()
    val env = ChangeCapture.capture(changes, cfg("SYNC", "http://x/"))
    val q = env.writeStream.format("memory").queryName("cap_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("cap_out")
        .select($"event.op", $"event.data.old".isNull, $"event.data.new".isNull)
        .as[(String, Boolean, Boolean)].collect().toSet
      assert(rows == Set(("INSERT", true, false), ("UPDATE", false, false),
        ("DELETE", false, true)))
    } finally q.stop()
  }

  test("ASYNC end-to-end: stream → durable queue → dispatcher → webhook") {
    server.received.clear()
    val dir = Files.createTempDirectory("graft_squeue_").toString + "/event_log"
    val c = cfg("ASYNC", server.url)
    val (_, changes) = changeStream()
    val q = ChangeStream.deliveryWriter(ChangeCapture.capture(changes, c), c, dir)
      .option("checkpointLocation", Files.createTempDirectory("graft_ck_").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    val pending = EventLog.read(spark, dir).as[QueueRow].collect()
    assert(pending.length == 3 && pending.forall(_.status == "PENDING"))

    val stats = Dispatcher.runOnce(spark, dir)
    assert(stats.delivered == 3)
    assert(server.bodies.length == 3)
    assert(server.bodies.exists(_.contains(""""op":"DELETE"""")))
  }

  test("file-source change feed: appended parquet drives capture (S1 prod path)") {
    val feedDir = Files.createTempDirectory("graft_feed_").toString
    val (_, template) = changeStream() // reuse schema
    // write an initial batch of change rows as the append-dir producer would
    Seq(ChangeRec("INSERT", null, Emp(10, "zoe", 900)))
      .toDS().toDF()
      .select($"op", $"oldImage".as("old"), $"newImage".as("new"))
      .write.mode("append").parquet(feedDir)
    val stream = spark.readStream.schema(template.schema).parquet(feedDir)
    val env = ChangeCapture.capture(stream, cfg("SYNC", "http://x/"))
    val q = env.writeStream.format("memory").queryName("file_cap_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("file_cap_out").count() == 1)
      // a second appended file is picked up incrementally
      Seq(ChangeRec("DELETE", Emp(11, "yan", 800), null))
        .toDS().toDF()
        .select($"op", $"oldImage".as("old"), $"newImage".as("new"))
        .write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      val ops = spark.table("file_cap_out")
        .select($"event.op").as[String].collect().toSet
      assert(ops == Set("INSERT", "DELETE"))
    } finally q.stop()
  }

  test("watermarked tumbling window aggregates event time") {
    val ms = MemoryStream[Evt]
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    ms.addData(
      Evt(t(1), 1, "click", 1.0), Evt(t(2), 1, "click", 2.0),
      Evt(t(11), 2, "view", 3.0), Evt(t(59), 2, "click", 4.0))
    val win = ChangeStream.windowedCounts(ms.toDF(), "ts", "10 minutes", "10 minutes")
    val q = win.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_out")
        .select($"window_start".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(got == Set(
        ("2024-01-01 10:00:00", "click", 2L),
        ("2024-01-01 10:10:00", "view", 1L),
        ("2024-01-01 10:50:00", "click", 1L)))
    } finally q.stop()
  }

  test("stream-static enrichment: broadcast dim joined onto a live stream (J1 shape)") {
    val ms = MemoryStream[Evt]
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    ms.addData(Evt(t(1), 1, "click", 1.0), Evt(t(2), 2, "purchase", 9.0))
    val dim = Seq(("click", "engagement"), ("purchase", "revenue"), ("view", "engagement"))
      .toDF("event_type", "category")
    val enriched = ms.toDF()
      .join(org.apache.spark.sql.functions.broadcast(dim), "event_type")
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .select($"user_id", $"category").as[(Long, String)].collect().toSet
      assert(got == Set((1L, "engagement"), (2L, "revenue")))
    } finally q.stop()
  }

  test("session windows split on the inactivity gap") {
    val ms = MemoryStream[Evt]
    def t(h: Int, min: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
    ms.addData(
      Evt(t(10, 0), 1, "click", 1.0), Evt(t(10, 10), 1, "click", 1.0), // session 1
      Evt(t(12, 0), 1, "click", 1.0),                                  // session 2
      Evt(t(10, 0), 2, "view", 1.0))
    val sess = ChangeStream.sessionCounts(ms.toDF(), "ts", "10 minutes")
    val q = sess.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select($"user_id", $"n_events").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(got == Map(1L -> Seq(1L, 2L), 2L -> Seq(1L)))
    } finally q.stop()
  }
}
