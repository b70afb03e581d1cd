package graft.queue

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.delivery.{Backoff, HttpPoster, JdkHttpPoster}
import graft.queue.EventLog.QueueRow
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Async delivery worker — completes the drain loop the reference left as a
  * TODO (`src/cdc_webhook_worker.c:55-61`), using its `event_log` schema +
  * README retry spec as the contract (SURVEY §3.3, T5).
  *
  * Each cycle (the reference polls at 1 s, `src/cdc_webhook_worker.c:63-64`):
  *   1. capture the PENDING set once ([[PendingStore.capture]]) and scan the
  *      due rows: `next_attempt <= now`;
  *   2. one delivery attempt per due row, distributed via mapPartitions
  *      (the retry LOOP lives in the queue, not in process: a failed attempt
  *      reschedules by writing `next_attempt = now + Backoff.delay(n)`,
  *      so retries survive worker crashes — stronger than the reference's
  *      in-process sleeps and exactly what its schema was designed for);
  *   3. state transitions PENDING→DELIVERED / PENDING(rescheduled) / FAILED
  *      with attempt history arrays appended (`cdc_webhook--1.0.sql:36-43`);
  *   4. append terminal rows to their status partitions, then commit the new
  *      PENDING snapshot with ONE exclusive manifest-entry link
  *      ([[PendingStore.commit]] through [[VersionedDir]] — the scaled-down
  *      lakehouse commit; a Delta/Iceberg MERGE is the production form).
  *
  * Scale model: a cycle's I/O is O(PENDING), never O(history). The PENDING
  * set lives in its own store (`.pending/`), physically disjoint from the
  * `status=DELIVERED|FAILED` hive partitions, so a cycle cannot even list
  * the terminal history — the Spark analog of the reference's btree index
  * on (status, next_attempt) (`cdc_webhook--1.0.sql:50-52`); `next_attempt`
  * still pushes down to the parquet scan. Terminal partitions are immutable,
  * append-only history that a cycle never reads or rewrites.
  *
  * Crash-safety model: terminal rows are appended BEFORE the manifest flip,
  * so a crash between the two leaves a row visible as both DELIVERED and
  * PENDING; the next cycle re-attempts it ⇒ at-least-once with duplicate
  * envelope ids, same as the reference (T2) — readers dedup terminal history
  * by (id, attempt_count), the streaming twin of StatefulDedup. Every other
  * crash point leaves only unreferenced dirs that GC sweeps
  * ([[PendingStore]]); concurrent readers never need to retry.
  */
object Dispatcher {

  final case class CycleStats(due: Long, delivered: Long, rescheduled: Long, failed: Long)

  /** One poll cycle. `now` is injectable for tests. `lease` is the writer
    * lease a long-running dispatcher holds ([[PendingStore.acquireLease]]);
    * the commit verifies it before the manifest flip and idle cycles renew
    * it. None = unmanaged single-shot mode (still refused if another
    * dispatcher's live lease exists). */
  def runOnce(spark: SparkSession, queueDir: String,
              poster: HttpPoster = JdkHttpPoster,
              now: Timestamp = new Timestamp(System.currentTimeMillis()),
              lease: Option[PendingStore.Lease] = None): CycleStats = {
    import spark.implicits._
    // ONE capture feeds the whole cycle: due scan, not-due carryover, and
    // commit all agree on exactly which snapshot + inbox spools are "the
    // batch"; a spool landing mid-cycle is next cycle's work, never lost.
    val snap = PendingStore.capture(queueDir)
    def pendingRows: Dataset[QueueRow] =
      PendingStore.readAt(spark, queueDir, snap).as[QueueRow]
    val posted = pendingRows.filter(col("next_attempt") <= lit(now)).mapPartitions(_.map { r =>
      // IN_PROGRESS → terminal transition happens within the cycle; only
      // terminal states are persisted (single-writer dispatcher).
      val (status, resp) = poster.post(r.webhook_url,
        graft.delivery.HeadersCodec.parse(r.headers), r.payload, r.timeout * 1000L)
      val attempts = r.attempt_count + 1
      val newStatus =
        if (graft.delivery.HttpPoster.delivered(status)) "DELIVERED"
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
    })

    // 1) Durable attempt log: ONE action materializes every post exactly
    //    once per cycle, and the cycle's stats are observed on that same
    //    action. Counting or re-writing from the live dataset would risk
    //    recomputation (Spark invalidates caches over queueDir on the
    //    appends below) and with it duplicate HTTP side effects.
    val attemptsDir = queueDir.stripSuffix("/") + ".attempts"
    val cycle = Observation()
    posted.toDF().observe(cycle, count(lit(1)).as("due"),
        count_if(col("status") === "DELIVERED").as("delivered"),
        count_if(col("status") === "FAILED").as("failed"))
      .write.mode("overwrite").parquet(attemptsDir)
    val observed = cycle.get
    def stat(name: String): Long = observed(name).asInstanceOf[Long]
    val (due, delivered, failed) = (stat("due"), stat("delivered"), stat("failed"))
    val attempted = spark.read
      .schema(org.apache.spark.sql.Encoders.product[QueueRow].schema)
      .parquet(attemptsDir).as[QueueRow]
    if (due == 0) { // idle cycle: no state changed, rewrite nothing
      deleteRec(Paths.get(attemptsDir))
      // still alive: renew so an idle holder is never mistaken for crashed
      lease.foreach(PendingStore.renewLease(queueDir, _))
      return CycleStats(0, 0, 0, 0)
    }

    // 2) Terminal rows append to their own status partitions — DELIVERED and
    //    FAILED history is write-once, never rewritten (O(due), not O(history)).
    attempted.filter(col("status") =!= "PENDING").toDF()
      .write.mode("append").partitionBy("status").parquet(queueDir)

    // 3) Commit the next PENDING snapshot (not-yet-due ∪ rescheduled,
    //    absorbing the captured inbox spools) LAST: a crash before the
    //    manifest flip leaves the due rows PENDING and re-attempted next
    //    cycle (at-least-once).
    val notDue = pendingRows.filter(col("next_attempt") > lit(now))
    val newPending = notDue.toDF().unionByName(
      attempted.filter(col("status") === "PENDING").toDF())
    PendingStore.commit(newPending, queueDir, snap, lease = lease)
    deleteRec(Paths.get(attemptsDir))
    CycleStats(due, delivered, due - delivered - failed, failed)
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
    * history). Safe to poll concurrently with a dispatcher commit — the
    * manifest read is atomic, so no retry loop is needed. */
  def hasPending(spark: SparkSession, queueDir: String): Boolean =
    pendingScan(spark, queueDir).limit(1).count() > 0

  private def deleteRec(p: java.nio.file.Path): Unit =
    graft.queue.Maintenance.deleteRec(p)
}
