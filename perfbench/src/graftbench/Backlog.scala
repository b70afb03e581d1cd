package graftbench

import java.nio.file.Path

import scala.util.hashing.MurmurHash3

import graft.cdc.{ChangeCapture, SnapshotDiff}
import graft.delivery.JdkHttpPoster
import graft.model.TriggerConfig
import graft.queue.{CredentialStore, Dispatcher, EventLog, PendingStore}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** `cdc_backlog`: closed loop, in rounds, over the `orders` table.
  *
  * Each round applies a seeded mutation to the table (inserts, deletes,
  * updates to a tracked column, updates to an untracked column only), then
  * times the paper's batch path: `SnapshotDiff.diff` → `ChangeCapture.capture`
  * (the `updateColumns` gate drops the untracked updates) →
  * `CredentialStore.resolve` (PRIVATE) → `EventLog.enqueue` →
  * `Dispatcher.runOnce` cycles until no PENDING row is left, on
  * `Dispatcher.drain`'s cadence and under its writer lease. The receiver
  * answers at once, and 503 to the first attempt of a seeded share of the
  * changes, so every round also runs the reschedule → PENDING-commit path.
  *
  * Big cycles against a cheap endpoint make this bound by the queue (spool,
  * capture and commit, the count jobs, parquet appends), not by delivery. */
object Backlog extends Workload {
  /** Changes per round on the ~150k-row sf0.1 table (scaled at smaller sf). */
  val Deletes = 450
  val Inserts = 500
  val TrackedUpdates = 1500
  val UntrackedUpdates = 1000
  /** Share of captured changes whose first POST gets a 503, in 1/1000. It
    * sits clear of 1% so that p99 latency never falls on the edge between
    * retried and first-attempt deliveries. */
  val Refused503PerMille = 15
  /** Sleep after a cycle while PENDING rows remain, as `Dispatcher.drain`
    * does (the reference worker polls every second). The trigger's retry
    * interval is 1 s from the cycle's start, so a rescheduled row is always
    * due at the next cycle. */
  val PollMs = 1000L
  val Token = "bench-private-token"
  /** A timed round's length at sf0.1 on 4 cores. A run times the whole
    * rounds that fit in its seconds, floor(seconds / NominalRoundS), at
    * least one: a fixed count, not "rounds until the time is up", so the
    * number of rounds (and the weight of each) does not flip from run to
    * run with timing. */
  val NominalRoundS = 4.0

  private var receiver: Receiver = _
  private var root: Path = _
  private var version = 0

  private def cfg(url: String): TriggerConfig = TriggerConfig(
    name = "bench_backlog", tableName = "orders",
    operations = Seq("INSERT", "UPDATE", "DELETE"), webhookUrl = url,
    headers = Map("X-Bench-Token" -> Token),
    updateColumns = Seq("o_orderstatus", "o_totalprice"),
    retryNumber = 3, retryInterval = 1, security = "PRIVATE", mode = "ASYNC")

  /** The trigger as the registry retains it: secrets live only in the store. */
  private def retained(url: String): TriggerConfig =
    cfg(url).copy(webhookUrl = "private://credential-store", headers = Map.empty)

  private def snapshot(v: Int): String = root.resolve(s"orders_v$v").toString
  private def queueDir: String = root.resolve("event_log").toString
  private def credDir: String = root.resolve("credentials").toString

  def refused(seed: Long)(op: String, key: Long): Boolean =
    (MurmurHash3.stringHash(s"$seed/$op/$key") & 0x7fffffff) % 1000 < Refused503PerMille

  /** Set-up: receiver, credential store, and the table's first snapshot. */
  def prepare(ctx: Context, rep: Int): Unit = {
    root = ctx.workDir.resolve(s"backlog_$rep")
    receiver = new Receiver(ctx.cores, delayMs = 0L, refused(ctx.seed))
    CredentialStore.upsert(ctx.spark, credDir, cfg(receiver.url("backlog")))
    ctx.spark.read.parquet(s"${ctx.sfDir}/orders.parquet").write.parquet(snapshot(0))
    version = 0
  }

  def close(ctx: Context): Unit = if (receiver != null) { receiver.stop(); receiver = null }

  final case class Mutation(deleted: Set[Long], tracked: Set[Long], untracked: Set[Long],
                            inserted: Set[Long]) {
    /** (op, key) of every change the gate passes. */
    def captured: Set[(String, Long)] =
      deleted.map("DELETE" -> _) ++ tracked.map("UPDATE" -> _) ++ inserted.map("INSERT" -> _)
  }

  /** Write snapshot v+1 from snapshot v; the selection is a hash of
    * (key, seed, round), so a seed always gives the same changes. */
  private def mutate(ctx: Context, round: Int, scale: Double): Mutation = {
    val spark = ctx.spark
    val prev = spark.read.parquet(snapshot(version))
    val n = prev.count().toDouble
    def cut(k: Int): Long = math.max(1L, math.round(k * scale)) * 1000000L / n.toLong
    val (d, t, u) = (cut(Deletes), cut(Deletes) + cut(TrackedUpdates),
      cut(Deletes) + cut(TrackedUpdates) + cut(UntrackedUpdates))
    val h = pmod(xxhash64(col("o_orderkey"), lit(ctx.seed), lit(round)), lit(1000000L))
    val tagged = prev.withColumn("_h", h)
    val picked = tagged.filter(col("_h") < u).select(col("o_orderkey").cast("long"), col("_h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val maxKey = prev.agg(max(col("o_orderkey")).cast("long")).head().getLong(0)
    val nIns = math.max(1L, math.round(Inserts * scale))
    val inserted = (1L to nIns).map(maxKey + _).toSet
    val inserts = spark.range(1, nIns + 1).select(
      (lit(maxKey) + col("id")).as("o_orderkey"),
      (col("id") % 1000 + 1).as("o_custkey"),
      lit("O").as("o_orderstatus"),
      (col("id") * 3 + 1000).cast("double").as("o_totalprice"),
      to_timestamp(lit("1998-08-01 00:00:00")).as("o_orderdate"),
      lit("3-MEDIUM").as("o_orderpriority"))
    val next = tagged.filter(col("_h") >= d)
      .withColumn("o_totalprice", when(col("_h") < t, col("o_totalprice") + 1.0)
        .otherwise(col("o_totalprice")))
      .withColumn("o_orderdate", when(col("_h") >= t && col("_h") < u,
        col("o_orderdate") + expr("INTERVAL 1 DAY")).otherwise(col("o_orderdate")))
      .drop("_h")
      .unionByName(inserts.select(prev.columns.toIndexedSeq.map(c => col(c).cast(prev.schema(c).dataType)): _*))
    version += 1
    next.write.parquet(snapshot(version))
    Mutation(
      deleted = picked.filter(_._2 < d).map(_._1).toSet,
      tracked = picked.filter(p => p._2 >= d && p._2 < t).map(_._1).toSet,
      untracked = picked.filter(_._2 >= t).map(_._1).toSet,
      inserted = inserted)
  }

  final case class Round(ns: Long, latenciesMs: Seq[Double], delivered: Int,
                         enqueueNs: Long, cycleNs: Seq[Long], counters: Counters,
                         queueCounters: Counters, eventsIn: Long, captured: Long,
                         posts: Int, busyNs: Long)

  def run(ctx: Context): Unit = {
    import ctx._
    // the change counts are sized for sf0.1's ~150k orders
    val scale = if (sfName == "sf0.1") 1.0 else 0.01
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Round]
    var expectedTotal = 0L
    val timedRounds = math.max(1, (seconds / NominalRoundS).toInt)
    // round 0 is an untimed warm-up (JIT, generated code)
    for (round <- 0 to timedRounds) {
      val m = mutate(ctx, round, scale)
      val (r, delivered) = timedRound(ctx, round, m)
      if (round > 0) rounds += r
      expectedTotal += m.captured.size
      val got = delivered.map(a => a.op -> a.key).toSet
      report.check(s"round $round: every captured change reached a 2xx",
        m.captured.subsetOf(got), s"${(m.captured -- got).size} of ${m.captured.size} missing")
      report.check(s"round $round: no gated-out change was delivered",
        got.subsetOf(m.captured) && m.untracked.forall(k => !got.contains("UPDATE" -> k)),
        s"${(got -- m.captured).size} unexpected deliveries")
      report.check(s"round $round: one 2xx per event", delivered.size == m.captured.size,
        s"${delivered.size} distinct 2xx events for ${m.captured.size} changes")
    }

    val attempts = receiver.all
    val distinct = attempts.filter(_.status / 100 == 2).map(_.id).distinct.size
    report.attempted = expectedTotal
    report.failed = math.max(0L, expectedTotal - distinct)
    report.check("receiver attempts == events + injected 503s",
      attempts.size == distinct + receiver.injected503,
      s"${attempts.size} attempts, $distinct events, ${receiver.injected503} 503s")
    report.check("PRIVATE header value arrived on every POST",
      attempts.forall(_.token.contains(Token)), "missing or wrong X-Bench-Token")
    val history = EventLog.terminalHistory(spark, queueDir)
      .groupBy(col("status")).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    report.check("terminalHistory: one DELIVERED row per event",
      history.getOrElse("DELIVERED", 0L) == expectedTotal && history.getOrElse("FAILED", 0L) == 0L,
      s"history $history for $expectedTotal events")
    val pendingLeft = PendingStore.read(spark, queueDir).count()
    report.check("PENDING store ends empty", pendingLeft == 0L, s"$pendingLeft rows left")

    val timedNs = rounds.map(_.ns).sum
    val lat = rounds.flatMap(_.latenciesMs).toSeq
    val eps = rounds.map(_.delivered).sum / (timedNs / 1e9)
    report.name("backlog_events_per_s", eps, "1/s", rounds.size)
    report.gate("throughput_per_s", eps, "1/s", rounds.size)
    report.gate("latency_p50_ms", Stats.median(lat), "ms", lat.size)
    report.gate("latency_p99_ms", Stats.quantile(lat, 0.99), "ms", lat.size)
    report.note(s"rounds=${rounds.size} events=${rounds.map(_.delivered).sum} " +
      s"injected_503=${receiver.injected503}")

    if (trace.on) {
      val n = rounds.size.toDouble
      val c = rounds.map(_.counters).reduce(_ + _)
      val q = rounds.map(_.queueCounters).reduce(_ + _)
      val cycles = rounds.flatMap(_.cycleNs).toSeq
      Layers.scheduler(report, c, timedNs, cores, perUnit = n)
      Layers.catalyst(report, c, perUnit = n)
      report.layerMetric("cdc.events_in", rounds.map(_.eventsIn).sum / n, rounds.size)
      report.layerMetric("cdc.events_captured", rounds.map(_.captured).sum / n, rounds.size)
      report.layerMetric("queue.enqueue_s", rounds.map(_.enqueueNs).sum / 1e9 / n, rounds.size)
      report.layerMetric("queue.cycle_s_p50", Stats.median(cycles.map(_ / 1e9)), cycles.size)
      report.layerMetric("queue.cycle_s_sum", cycles.sum / 1e9 / n, rounds.size)
      report.layerMetric("queue.cycles", cycles.size / n, rounds.size)
      report.layerMetric("queue.jobs_per_cycle", q.jobs.toDouble / cycles.size, cycles.size)
      report.layerMetric("queue.files_written", q.filesWritten / n, rounds.size)
      report.layerMetric("queue.bytes_written", q.bytesWritten / n, rounds.size)
      report.layerMetric("delivery.posts", rounds.map(_.posts).sum / n, rounds.size)
      report.layerMetric("delivery.attempts_per_event",
        rounds.map(_.posts).sum.toDouble / rounds.map(_.delivered).sum, rounds.size)
      report.layerMetric("delivery.inflight_max", receiver.inflightMax)
      report.layerMetric("delivery.post_busy_share",
        rounds.map(_.busyNs).sum.toDouble / cycles.sum, cycles.size)
    }
  }

  /** Diff start → last 2xx of one round. Returns the round's timings and the
    * first 2xx of every event delivered in it. */
  private def timedRound(ctx: Context, round: Int, m: Mutation): (Round, Seq[Attempt]) = {
    import ctx._
    val tr = s"round$round"
    val cfgR = retained(receiver.url("backlog"))
    val before = receiver.all.size
    val c0 = trace.counters()
    val t0 = System.nanoTime()
    val obsIn = Observation(s"in_$round")
    val obsCap = Observation(s"cap_$round")
    val diff = trace.span("cdc.diff", tr) {
      SnapshotDiff.diff(spark.read.parquet(snapshot(version - 1)),
        spark.read.parquet(snapshot(version)), Seq("o_orderkey"))
    }
    val captured = trace.span("cdc.capture", tr) {
      val in = if (trace.on) diff.observe(obsIn, count(lit(1)).as("n")) else diff
      val cap = ChangeCapture.capture(in, cfgR)
      if (trace.on) cap.observe(obsCap, count(lit(1)).as("n")) else cap
    }
    val addressed: DataFrame = CredentialStore.resolve(captured, spark, credDir)
    val e0 = System.nanoTime()
    val q0 = trace.counters()
    trace.span("queue.enqueue", tr)(EventLog.enqueue(addressed, cfgR, queueDir))
    val enqueueNs = System.nanoTime() - e0
    var qc = trace.counters() - q0
    val cycleSpans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // Dispatcher.drain's loop, with each cycle timed: the writer lease kept
    // alive by a heartbeat, then runOnce until nothing is PENDING, sleeping
    // PollMs after each cycle that leaves work
    val lease = PendingStore.acquireLease(queueDir, "graftbench")
    val hb = PendingStore.heartbeat(queueDir, lease)
    try {
      var pending = true
      while (pending) {
        val k0 = trace.counters()
        val s = System.nanoTime()
        trace.span("queue.cycle", tr) {
          Dispatcher.runOnce(spark, queueDir, JdkHttpPoster, lease = Some(lease))
        }
        cycleSpans += ((s, System.nanoTime()))
        qc = qc + (trace.counters() - k0)
        pending = Dispatcher.hasPending(spark, queueDir)
        if (pending) Thread.sleep(PollMs)
      }
    } finally { hb.close(); PendingStore.releaseLease(queueDir, lease) }
    val attempts = receiver.all.drop(before)
    val firstOk = attempts.filter(_.status / 100 == 2).groupBy(_.id).values.map(_.minBy(_.endNs)).toSeq
    val end = if (firstOk.isEmpty) System.nanoTime() else firstOk.map(_.endNs).max
    val c = trace.counters() - c0
    val inCycles = attempts.filter(a => cycleSpans.exists { case (s, e) => a.startNs >= s && a.endNs <= e })
    def obsCount(o: Observation): Long =
      if (trace.on) o.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L) else 0L
    (Round(end - t0, firstOk.map(a => (a.endNs - t0) / 1e6), firstOk.size, enqueueNs,
      cycleSpans.map { case (s, e) => e - s }.toSeq, c, qc, obsCount(obsIn), obsCount(obsCap),
      attempts.size, Receiver.busyNs(inCycles)), firstOk)
  }
}
