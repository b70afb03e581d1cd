package graft.queue

import java.sql.Timestamp
import java.util.concurrent.LinkedBlockingQueue

import scala.util.{Failure, Success, Try}

import graft.delivery.{Backoff, HeadersCodec, HttpPoster, JdkHttpPoster}
import graft.queue.EventLog.QueueRow
import graft.queue.PendingStore.SnapshotStats
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Async delivery worker — completes the drain loop the reference left as a
  * TODO (`src/cdc_webhook_worker.c:55-61`), using its `event_log` schema +
  * README retry spec as the contract (SURVEY §3.3, T5).
  *
  * Each cycle (the reference polls at 1 s, `src/cdc_webhook_worker.c:63-64`)
  * captures the PENDING set once ([[PendingStore.capture]]). If the inbox is
  * empty and the snapshot's manifest stats say nothing is due
  * (`next_attempt <= now`), the cycle is idle and runs no Spark job.
  * Otherwise it runs exactly ONE job:
  *   1. read the captured PENDING set once; not-due rows pass through;
  *   2. one delivery attempt per due row, through a window of at most
  *      [[PostWindow]] [[HttpPoster.postAsync]] calls in flight per task
  *      (the retry LOOP lives in the queue, not in process: a failed attempt
  *      reschedules by writing `next_attempt = now + Backoff.delay(n)`,
  *      so retries survive worker crashes — stronger than the reference's
  *      in-process sleeps and exactly what its schema was designed for);
  *   3. state transitions PENDING→DELIVERED / PENDING(rescheduled) / FAILED
  *      with attempt history arrays appended (`cdc_webhook--1.0.sql:36-43`);
  *   4. write every row once, `partitionBy("status")`, into a stage dir; the
  *      cycle's stats and the next snapshot's [[SnapshotStats]] are observed
  *      on that write.
  * Then, without Spark: the staged DELIVERED/FAILED files move into their
  * status partitions ([[EventLog.landTerminal]]), and the staged PENDING
  * part becomes the next snapshot with ONE exclusive manifest-entry link
  * ([[PendingStore.commitStaged]] through [[VersionedDir]] — the scaled-down
  * lakehouse commit; a Delta/Iceberg MERGE is the production form).
  *
  * Scale model: a cycle's I/O is O(PENDING), never O(history). The PENDING
  * set lives in its own store (`.pending/`), physically disjoint from the
  * `status=DELIVERED|FAILED` hive partitions, so a cycle cannot even list
  * the terminal history — the Spark analog of the reference's btree index
  * on (status, next_attempt) (`cdc_webhook--1.0.sql:50-52`); `next_attempt`
  * still pushes down to the parquet scan. Terminal partitions are immutable,
  * append-only history that a cycle never reads or rewrites.
  *
  * Crash-safety model: the one job runs each POST once per cycle. Terminal
  * files land BEFORE the manifest flip, so a crash between the two leaves a
  * row visible as both DELIVERED and PENDING; the next cycle re-attempts it
  * ⇒ at-least-once with duplicate envelope ids, same as the reference (T2) —
  * readers dedup terminal history by (id, attempt_count), the streaming twin
  * of StatefulDedup. Every other crash point leaves only unreferenced dirs
  * that retention sweeps ([[PendingStore]]); concurrent readers never need
  * to retry. Delivery keeps no per-key order: one attempt per due row per
  * cycle, in whatever order the window completes.
  */
object Dispatcher {

  /** One cycle's outcome. `queueDepth` is the PENDING row count after the
    * cycle, and `oldestPendingAgeMs` the age of its oldest row (by
    * `created_at`) at the cycle's clock, 0 when none is left. Both come from
    * the cycle's one observed write, or from the manifest on an idle cycle. */
  final case class CycleStats(due: Long, delivered: Long, rescheduled: Long, failed: Long,
                              queueDepth: Long, oldestPendingAgeMs: Long)

  /** POSTs in flight per task at most. A constant, picked from a sweep of 8,
    * 16 and 32 on perfbench's `cdc_backlog` and `cdc_stream` (CHANGES.md). */
  private[queue] val PostWindow = 16

  /** One poll cycle. `now` is injectable for tests. `lease` is the writer
    * lease a long-running dispatcher holds ([[PendingStore.acquireLease]]);
    * the commit verifies it before the manifest flip and idle cycles renew
    * it. None = unmanaged single-shot mode (still refused if another
    * dispatcher's live lease exists). `onStep` is the crash-test seam: it
    * is called after the staged write ("staged") and after the terminal
    * files landed ("terminal-landed"), then forwarded to the commit. */
  def runOnce(spark: SparkSession, queueDir: String,
              poster: HttpPoster = JdkHttpPoster,
              now: Timestamp = new Timestamp(System.currentTimeMillis()),
              lease: Option[PendingStore.Lease] = None,
              onStep: String => Unit = _ => ()): CycleStats = {
    import spark.implicits._
    def age(s: SnapshotStats): Long = s.minCreatedAt.fold(0L)(c => math.max(0L, now.getTime - c))
    // ONE capture feeds the whole cycle: due scan, not-due carryover, and
    // commit all agree on exactly which snapshot + inbox spools are "the
    // batch"; a spool landing mid-cycle is next cycle's work, never lost.
    val snap = PendingStore.capture(queueDir)
    PendingStore.stats(snap) match {
      case Some(s) if snap.inbox.isEmpty && s.minNextAttempt.forall(_ > now.getTime) =>
        // idle cycle: nothing due, no state changed, no job run; still
        // alive, so renew: an idle holder is never mistaken for crashed
        lease.foreach(PendingStore.renewLease(queueDir, _))
        return CycleStats(0, 0, 0, 0, s.rows, age(s))
      case _ => ()
    }

    val staged = PendingStore.stage(snap)
    val cycle = Observation()
    PendingStore.readAt(spark, queueDir, snap).as[QueueRow]
      .mapPartitions(attemptDue(_, poster, now))
      .select(col("_1.*"), col("_2").as("attempted"))
      .observe(cycle, count_if(col("attempted")).as("due"),
        count_if(col("status") === "DELIVERED").as("delivered") +:
        count_if(col("status") === "FAILED").as("failed") +:
        SnapshotStats.columns(col("status") === "PENDING"): _*)
      .drop("attempted")
      .write.partitionBy("status").parquet(staged.toString)
    onStep("staged")
    val observed = cycle.get
    def stat(name: String): Long = observed(name).asInstanceOf[Long]
    val (due, delivered, failed) = (stat("due"), stat("delivered"), stat("failed"))
    val next = SnapshotStats.observed(observed)

    // Terminal rows land first, then the PENDING part commits LAST: a crash
    // before the manifest flip leaves the due rows PENDING and re-attempted
    // next cycle (at-least-once). A cycle that attempted nothing still
    // commits, absorbing the captured inbox into a snapshot with stats.
    EventLog.landTerminal(staged, queueDir)
    onStep("terminal-landed")
    PendingStore.commitStaged(staged, next, queueDir, snap, onStep, lease)
    CycleStats(due, delivered, due - delivered - failed, failed, next.rows, age(next))
  }

  /** One delivery attempt per due row of a partition, at most [[PostWindow]]
    * in flight; not-due rows pass through untouched. Yields (row after the
    * cycle, attempted) in completion order, each attempt's transition built
    * from its own response. A failed future fails the task like a crash. */
  private def attemptDue(rows: Iterator[QueueRow], poster: HttpPoster,
                         now: Timestamp): Iterator[(QueueRow, Boolean)] =
    new Iterator[(QueueRow, Boolean)] {
      private val done = new LinkedBlockingQueue[Try[QueueRow]]()
      private var inflight = 0
      def hasNext: Boolean = inflight > 0 || rows.hasNext
      def next(): (QueueRow, Boolean) = {
        while (inflight < PostWindow && rows.hasNext) {
          val r = rows.next()
          if (r.next_attempt.after(now)) return (r, false)
          poster.postAsync(r.webhook_url, HeadersCodec.parse(r.headers), r.payload,
              r.timeout * 1000L)
            .whenComplete { (res: (Int, String), err: Throwable) =>
              done.put(if (err == null) Success(transition(r, res._1, res._2, now)) else Failure(err))
            }
          inflight += 1
        }
        inflight -= 1
        (done.take().get, true)
      }
    }

  /** The attempt's status transition. IN_PROGRESS → terminal happens within
    * the cycle; only its outcome is persisted (single-writer dispatcher). */
  private def transition(r: QueueRow, status: Int, resp: String, now: Timestamp): QueueRow = {
    val attempts = r.attempt_count + 1
    val newStatus =
      if (HttpPoster.delivered(status)) "DELIVERED"
      else if (attempts > r.retry_number) "FAILED"
      else "PENDING"
    val nextAt =
      if (newStatus == "PENDING")
        new Timestamp(now.getTime +
          Backoff.delayMs(r.retry_backoff, r.retry_interval, r.attempt_count))
      else r.next_attempt
    r.copy(
      status = newStatus,
      attempt_count = attempts,
      attempts_time = r.attempts_time :+ now,
      attempts_status = r.attempts_status :+ status,
      attempts_response = r.attempts_response :+ resp,
      next_attempt = nextAt,
      // audit touch on every status transition — the reference's
      // update_updated_at_column trigger (`cdc_webhook--1.0.sql:87-100`)
      updated_at = now)
  }

  /** Run cycles until no PENDING work remains or `maxCycles` hit, sleeping
    * `pollMs` between cycles (reference cadence: 1000 ms). Holds the writer
    * lease for the duration — kept alive by a [[PendingStore.heartbeat]],
    * so a delivery pass slower than the lease ttl (slow webhooks × a deep
    * backlog) cannot expire it mid-cycle — and a second drain on the same
    * queueDir refuses cleanly instead of interleaving commits with this
    * one. */
  def drain(spark: SparkSession, queueDir: String, poster: HttpPoster = JdkHttpPoster,
            pollMs: Long = 1000L, maxCycles: Int = 60): Seq[CycleStats] = {
    import spark.implicits._
    val lease = PendingStore.acquireLease(queueDir, "drain")
    val hb = PendingStore.heartbeat(queueDir, lease)
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[CycleStats]
      var cycle = 0
      var pending = true
      while (pending && cycle < maxCycles) {
        out += runOnce(spark, queueDir, poster, lease = Some(lease))
        pending = hasPending(spark, queueDir)
        cycle += 1
        if (pending) Thread.sleep(pollMs)
      }
      out.toSeq
    } finally { hb.close(); PendingStore.releaseLease(queueDir, lease) }
  }

  /** Supervised drain — the reference worker deliberately crashes ~10% of
    * its iterations and relies on the postmaster to restart it within 1 s
    * (`src/cdc_webhook_worker.c:48-53,91`); recovery is queue state, not
    * process state. Same contract here: any mid-cycle crash aborts the
    * cycle before its PENDING swap, so a restarted drain re-reads the
    * still-PENDING rows and re-attempts them (at-least-once; duplicate
    * deliveries share envelope ids). Returns the number of restarts. */
  def supervise(spark: SparkSession, queueDir: String,
                poster: HttpPoster = JdkHttpPoster,
                pollMs: Long = 1000L, restartDelayMs: Long = 1000L,
                maxRestarts: Int = 10, maxCycles: Int = 60): Int = {
    var restarts = 0
    var done = false
    while (!done) {
      try { drain(spark, queueDir, poster, pollMs, maxCycles); done = true }
      catch {
        case scala.util.control.NonFatal(e) =>
          restarts += 1
          if (restarts > maxRestarts) throw e
          Thread.sleep(restartDelayMs)
      }
    }
    restarts
  }

  /** The live PENDING set, read through the manifest ([[PendingStore]]) —
    * the terminal `status=*` partitions are physically outside every path
    * this scan can touch, and `next_attempt` predicates push down to the
    * parquet reader (StorageLayoutSpec asserts both on the executed plan). */
  def pendingScan(spark: SparkSession, queueDir: String): Dataset[QueueRow] = {
    import spark.implicits._
    PendingStore.read(spark, queueDir).as[QueueRow]
  }

  /** The cycle's due-work scan: PENDING ∧ next_attempt ≤ now. */
  def dueScan(spark: SparkSession, queueDir: String, now: Timestamp): Dataset[QueueRow] =
    pendingScan(spark, queueDir).filter(col("next_attempt") <= lit(now))

  /** Existence check over the PENDING store only (never lists terminal
    * history). Answers from the manifest's [[SnapshotStats]] and the inbox
    * listing with no Spark job; only a snapshot committed without stats is
    * scanned. Safe to poll concurrently with a dispatcher commit — the
    * manifest read is atomic, so no retry loop is needed. */
  def hasPending(spark: SparkSession, queueDir: String): Boolean = {
    val snap = PendingStore.capture(queueDir)
    snap.inbox.nonEmpty || PendingStore.stats(snap).fold(
      PendingStore.readAt(spark, queueDir, snap).limit(1).count() > 0)(_.rows > 0L)
  }
}
