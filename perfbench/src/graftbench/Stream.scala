package graftbench

import java.nio.file.Path
import java.sql.Timestamp
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.TriggerRegistry
import graft.delivery.JdkHttpPoster
import graft.model.TriggerConfig
import graft.queue.{Dispatcher, EventLog}
import graft.streaming.StreamingDispatcher
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** One `orders` row image. `chg_seq` is the generator's sequence number of
  * the change that wrote the image (a DELETE stamps it on the old image),
  * so the receiver recovers each change's due time from its payload. */
final case class OrderImage(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                            o_totalprice: Double, o_orderdate: Timestamp,
                            o_orderpriority: String, chg_seq: Long)
final case class OrderChange(op: String, oldImage: OrderImage, newImage: OrderImage)

/** `cdc_stream`: open loop, the paper's own path.
  *
  * One generator thread emits a seeded sequence of single-row `orders`
  * changes at a fixed offered rate into the change feeds (one MemoryStream
  * per trigger, both fed the same change at the same instant; a
  * MemoryStream drops what one reader has committed). Some changes repeat a
  * key changed a few events earlier, so one micro-batch holds several
  * changes to one key, as real tables produce.
  *
  * Two triggers are registered through `TriggerRegistry`:
  *  - SYNC: `WebhookSink`, an `updateColumns` gate, NONE security;
  *  - ASYNC: PRIVATE security (`CredentialStore.resolve` runs), enqueued at
  *    the reference's 1 s cadence and drained by `StreamingDispatcher` at 1 s.
  * The receiver adds a fixed service time to every request. Latency runs
  * from each change's due time at the generator to its 2xx.
  *
  * This path is bound by delivery (serial per-partition POSTs against a
  * non-zero service time) and by fixed per-cycle cost. */
object Stream extends Workload {
  /** Offered changes per second: under half of what the SYNC trigger
    * sustains on 4 cores with `ServiceMs` per request (see DESIGN.md), and
    * enough for over 1,000 measured SYNC deliveries in 10 s. */
  val OfferedRate = 120.0
  /** Share of the non-repeat changes that change only an untracked column,
    * which SYNC's gate drops. */
  val UntrackedShare = 0.1
  /** Seconds of offered load before the measured window, on the same
    * schedule. SYNC latency falls for the first ~30 s of load (from ~1.2 s
    * to ~0.5 s at 4 cores) while the JVM warms; without this the window
    * measured how far that had got, which varied from run to run. */
  val WarmupS = 15
  /** The receiver's service time per request. */
  val ServiceMs = 1L
  /** A run whose generator's p99 lateness exceeds this is invalid. The
    * generator shares the JVM with the engine, so GC pauses delay it too
    * (p99 8-35 ms measured); a starved generator runs far later. */
  val LateBoundMs = 100.0
  /** Share of changes that repeat a key changed in the last few events. */
  val RepeatShare = 0.25
  /** Rows of sf `orders` the generator changes. */
  val TableRows = 20000
  val Token = "bench-private-token"
  private val Hooks = Seq("sync", "async")

  private var receiver: Receiver = _
  private var registry: TriggerRegistry = _
  private var dispatcher: StreamingQuery = _
  private var feeds: Seq[MemoryStream[OrderChange]] = Nil
  private var base: Array[OrderImage] = Array.empty
  private var root: Path = _

  def syncCfg(url: String): TriggerConfig = TriggerConfig(
    name = "bench_sync", tableName = "orders",
    operations = Seq("INSERT", "UPDATE", "DELETE"), webhookUrl = url,
    updateColumns = Seq("o_orderstatus", "o_totalprice"))
  def asyncCfg(url: String): TriggerConfig = TriggerConfig(
    name = "bench_async", tableName = "orders",
    operations = Seq("INSERT", "UPDATE", "DELETE"), webhookUrl = url,
    headers = Map("X-Bench-Token" -> Token), security = "PRIVATE", mode = "ASYNC")

  private def queueDir: String = root.resolve("event_log").toString

  /** Set-up: receiver, both triggers and the dispatcher, started. */
  def prepare(ctx: Context, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    root = ctx.workDir.resolve(s"stream_$rep")
    base = spark.read.parquet(s"${ctx.sfDir}/orders.parquet").orderBy(col("o_orderkey"))
        .limit(TableRows).collect().map { r =>
          OrderImage(r.getAs[Number]("o_orderkey").longValue, r.getAs[Number]("o_custkey").longValue,
            r.getAs[String]("o_orderstatus"), r.getAs[Double]("o_totalprice"),
            r.getAs[Any]("o_orderdate") match {
              case t: Timestamp => t
              case t: java.time.LocalDateTime => Timestamp.valueOf(t) // TIMESTAMP_NTZ
            }, r.getAs[String]("o_orderpriority"), 0L)
        }
    receiver = new Receiver(ctx.cores, ServiceMs, (_, _) => false)
    registry = new TriggerRegistry(spark, root.resolve("credentials").toString, queueDir,
      root.resolve("checkpoints").toString)
    // a fixed partition count, like a topic's; by default every addData
    // call would become a partition of its own
    feeds = Hooks.map(_ => MemoryStream[OrderChange](ctx.cores))
    def changes(f: MemoryStream[OrderChange]): DataFrame =
      f.toDF().select(col("op"), col("oldImage").as("old"), col("newImage").as("new"))
    registry.create(syncCfg(receiver.url("sync")), changes(feeds(0)))
    registry.create(asyncCfg(receiver.url("async")), changes(feeds(1)))
    dispatcher = StreamingDispatcher.start(spark, queueDir, JdkHttpPoster,
      root.resolve("dispatcher_ck").toString, intervalMs = 1000L)
  }

  def close(ctx: Context): Unit = {
    if (registry != null) registry.stopAll()
    if (dispatcher != null) { dispatcher.stop(); dispatcher = null }
    if (receiver != null) { receiver.stop(); receiver = null }
    registry = null
  }

  /** One change of the sequence: what it does and whether SYNC's gate passes it. */
  final case class Planned(change: OrderChange, syncPasses: Boolean)

  /** The seeded change sequence. Keys deleted are never reused; inserts take
    * fresh keys above the table's. */
  def plan(seed: Long, n: Int, firstSeq: Long): IndexedSeq[Planned] = {
    val rng = new scala.util.Random(seed)
    val rows = mutable.HashMap.empty[Long, OrderImage]
    val live = mutable.ArrayBuffer.empty[Long]
    val slot = mutable.HashMap.empty[Long, Int]
    base.foreach { r => rows(r.o_orderkey) = r; slot(r.o_orderkey) = live.size; live += r.o_orderkey }
    var nextKey = base.map(_.o_orderkey).max + 1
    val recent = mutable.Queue.empty[Long]
    def touch(k: Long): Unit = { recent.enqueue(k); if (recent.size > 3) recent.dequeue() }
    def remove(k: Long): Unit = {
      val i = slot.remove(k).get
      val last = live.remove(live.size - 1)
      if (last != k) { live(i) = last; slot(last) = i }
      rows.remove(k)
    }
    (0 until n).map { i =>
      val seq = firstSeq + i
      val r = rng.nextDouble()
      val repeat = recent.filter(rows.contains)
      if (r < RepeatShare && repeat.nonEmpty) {
        val k = repeat(rng.nextInt(repeat.size))
        val o = rows(k)
        val nw = o.copy(o_totalprice = o.o_totalprice + 1.0, chg_seq = seq)
        rows(k) = nw; touch(k)
        Planned(OrderChange("UPDATE", o, nw), syncPasses = true)
      } else {
        val r2 = rng.nextDouble()
        if (r2 < 0.2) {
          val k = nextKey; nextKey += 1
          val nw = OrderImage(k, 1L + k % 1000, "O", 1000.0 + k % 997, new Timestamp(0L),
            "3-MEDIUM", seq)
          rows(k) = nw; slot(k) = live.size; live += k; touch(k)
          Planned(OrderChange("INSERT", null, nw), syncPasses = true)
        } else {
          val k = live(rng.nextInt(live.size))
          val o = rows(k)
          if (r2 < 0.3) {
            remove(k)
            Planned(OrderChange("DELETE", o.copy(chg_seq = seq), null), syncPasses = true)
          } else if (r2 < 1.0 - UntrackedShare) {
            val nw = o.copy(o_orderstatus = if (o.o_orderstatus == "F") "O" else "F", chg_seq = seq)
            rows(k) = nw; touch(k)
            Planned(OrderChange("UPDATE", o, nw), syncPasses = true)
          } else {
            val nw = o.copy(o_orderpriority = o.o_orderpriority + "*", chg_seq = seq)
            rows(k) = nw; touch(k)
            Planned(OrderChange("UPDATE", o, nw), syncPasses = false)
          }
        }
      }
    }
  }

  /** Block until `done` holds or `timeoutMs` passes; true when it held. */
  private def await(timeoutMs: Long)(done: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!done && System.currentTimeMillis() < end) Thread.sleep(20)
    done
  }

  private def firstOk(hook: String): Map[Long, Attempt] =
    receiver.all.filter(a => a.hook == hook && a.status / 100 == 2)
      .groupBy(_.seq).map { case (s, as) => s -> as.minBy(_.endNs) }

  def run(ctx: Context): Unit = {
    import ctx._
    val rate = OfferedRate
    val periodNs = (1e9 / rate).toLong
    val nWarm = (rate * WarmupS).toInt
    val n = nWarm + math.max(1, (rate * seconds).toInt)
    // seq 1, an insert of a key no planned change uses, starts both paths
    // (untimed); the generated changes start at seq 2, and the measured
    // ones, after nWarm warm-up changes, at seq 2 + nWarm
    val firstMeasured = 2L + nWarm
    val changes = plan(seed, n, 2L)
    val warmKey = base.map(_.o_orderkey).max + 10L * n + 1
    feeds.foreach(_.addData(OrderChange("INSERT", null,
      OrderImage(warmKey, 1L, "O", 1.0, new Timestamp(0L), "3-MEDIUM", 1L))))
    val warmed = await(60000)(Hooks.forall(h => firstOk(h).contains(1L)))
    report.check("warm-up change reached both hooks", warmed, "no 2xx within 60 s")
    receiver.reset()

    val c0 = trace.counters()
    val late = new Array[Long](n)
    val t0 = System.nanoTime() + 50000000L
    val gen = new Thread(() => {
      var i = 0
      while (i < n) {
        val due = t0 + i * periodNs
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        feeds.foreach(_.addData(changes(i).change))
        late(i) = System.nanoTime() - due
        i += 1
      }
    }, "graftbench-generator")
    trace.span("stream.generate", "stream") { gen.start(); gen.join() }
    val syncWant = changes.filter(_.syncPasses).map(_.change).map(seqOf).toSet
    val asyncWant = changes.map(_.change).map(seqOf).toSet
    val complete = trace.span("stream.deliver_rest", "stream") {
      await(60000) {
        syncWant.subsetOf(firstOk("sync").keySet) && asyncWant.subsetOf(firstOk("async").keySet)
      }
    }
    val endNs = System.nanoTime()
    val drained = trace.span("queue.drain", "stream") {
      await(30000)(!Dispatcher.hasPending(spark, queueDir))
    }
    val c = trace.counters() - c0

    val sync = firstOk("sync")
    val async = firstOk("async")
    def due(seq: Long): Long = t0 + (seq - 2) * periodNs
    val windowStart = due(firstMeasured)
    def latencies(m: Map[Long, Attempt]): Seq[Double] =
      m.values.filter(_.seq >= firstMeasured).map(a => (a.endNs - due(a.seq)) / 1e6).toSeq
    val syncLat = latencies(sync)
    val asyncLat = latencies(async)
    val lateMs = late.map(_ / 1e6).toSeq
    val lateP99 = Stats.quantile(lateMs, 0.99)

    // checks
    val attempts = receiver.all
    report.check("every SYNC change that passes the gate reached a 2xx", complete && syncWant.subsetOf(sync.keySet),
      s"${(syncWant -- sync.keySet).size} of ${syncWant.size} missing")
    report.check("no gated-out change was delivered on SYNC", sync.keySet.subsetOf(syncWant),
      s"${(sync.keySet -- syncWant).size} unexpected")
    report.check("every ASYNC change reached a 2xx", asyncWant.subsetOf(async.keySet),
      s"${(asyncWant -- async.keySet).size} of ${asyncWant.size} missing")
    report.check("receiver attempts == events + injected 503s",
      attempts.size == sync.size + async.size + receiver.injected503,
      s"${attempts.size} attempts for ${sync.size + async.size} events")
    report.check("PRIVATE header value arrived on every ASYNC POST",
      attempts.filter(_.hook == "async").forall(_.token.contains(Token)), "missing or wrong X-Bench-Token")
    report.check("PENDING store drained", drained, "PENDING rows left after 30 s")
    val history = EventLog.terminalHistory(spark, queueDir)
      .filter(col("trigger_name") === "bench_async")
      .groupBy(col("status")).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    report.check("terminalHistory: one DELIVERED row per ASYNC event",
      history.getOrElse("DELIVERED", 0L) == asyncWant.size + 1 && history.getOrElse("FAILED", 0L) == 0L,
      s"history $history for ${asyncWant.size + 1} events")
    report.check(f"generator p99 lateness within $LateBoundMs%.0f ms", lateP99 <= LateBoundMs,
      f"p99 late $lateP99%.1f ms: run invalid")

    // SYNC per-key order: a change that arrives after a later change to its key
    val lastSeq = mutable.HashMap.empty[Long, Long]
    var inversions = 0L
    attempts.filter(a => a.hook == "sync" && a.status / 100 == 2).sortBy(_.startNs).foreach { a =>
      val prev = lastSeq.getOrElse(a.key, -1L)
      if (a.seq < prev) inversions += 1 else lastSeq(a.key) = a.seq
    }
    report.attempted = syncWant.size + asyncWant.size
    report.failed = (syncWant -- sync.keySet).size + (asyncWant -- async.keySet).size
    report.inversions = inversions

    val windowS = (endNs - windowStart) / 1e9
    report.name("sync_p50_ms", Stats.median(syncLat), "ms", syncLat.size)
    report.name("sync_p99_ms", Stats.quantile(syncLat, 0.99), "ms", syncLat.size)
    report.name("async_p50_ms", Stats.median(asyncLat), "ms", asyncLat.size)
    report.name("async_p99_ms", Stats.quantile(asyncLat, 0.99), "ms", asyncLat.size)
    report.name("generator.late_ms_p99", lateP99, "ms", n)
    report.gate("throughput_per_s", (syncLat.size + asyncLat.size) / windowS, "1/s",
      syncLat.size + asyncLat.size)
    report.gate("latency_p50_ms", Stats.median(syncLat), "ms", syncLat.size)
    report.gate("latency_p99_ms", Stats.quantile(syncLat, 0.99), "ms", syncLat.size)
    report.note(f"offered_rate=$rate%.1f/s changes=$n warmup_changes=$nWarm sync_events=${syncWant.size} " +
      s"async_events=${asyncWant.size} order_inversions=$inversions")

    if (trace.on) {
      val windowNs = endNs - t0
      def med(xs: Seq[Long]): Double = Stats.median(xs.map(_.toDouble))
      val sp = trace.progresses("graft_trigger_bench_sync").filter(_.inputRows > 0)
      val ap = trace.progresses("graft_trigger_bench_async").filter(_.inputRows > 0)
      val dp = trace.progresses("graft-dispatcher")
      Layers.scheduler(report, c, windowNs, cores, perUnit = 1)
      Layers.catalyst(report, c, perUnit = 1)
      report.layerMetric("cdc.events_in", sp.map(_.inputRows).sum.toDouble, sp.size)
      report.layerMetric("cdc.events_captured", sync.size, sp.size)
      report.layerMetric("queue.enqueue_s", ap.map(_.addBatchMs).sum / 1e3, ap.size)
      report.layerMetric("queue.cycle_s_p50", med(dp.map(_.triggerMs)) / 1e3, dp.size)
      report.layerMetric("queue.cycle_s_sum", dp.map(_.triggerMs).sum / 1e3, dp.size)
      report.layerMetric("queue.cycles", dp.size, dp.size)
      report.layerMetric("queue.jobs_per_cycle",
        trace.jobsOfQuery(dispatcher.id.toString).toDouble / math.max(1, dp.size), dp.size)
      report.layerMetric("queue.files_written", c.filesWritten.toDouble)
      report.layerMetric("queue.bytes_written", c.bytesWritten.toDouble)
      report.layerMetric("delivery.posts", attempts.size)
      report.layerMetric("delivery.attempts_per_event",
        attempts.size.toDouble / (sync.size + async.size))
      report.layerMetric("delivery.inflight_max", receiver.inflightMax)
      report.layerMetric("delivery.post_busy_share", Receiver.busyNs(attempts).toDouble / windowNs)
      report.layerMetric("streaming.sync.trigger_ms", med(sp.map(_.triggerMs)), sp.size)
      report.layerMetric("streaming.sync.add_batch_ms", med(sp.map(_.addBatchMs)), sp.size)
      report.layerMetric("streaming.sync.rows_per_batch",
        sp.map(_.inputRows).sum.toDouble / math.max(1, sp.size), sp.size)
      report.layerMetric("streaming.async.add_batch_ms", med(ap.map(_.addBatchMs)), ap.size)
      report.layerMetric("streaming.dispatcher.trigger_ms", med(dp.map(_.triggerMs)), dp.size)
      report.layerMetric("generator.late_ms_p99", lateP99, n)
    }
  }

  private def seqOf(c: OrderChange): Long =
    if (c.newImage != null) c.newImage.chg_seq else c.oldImage.chg_seq
}
