package graft.queue

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.queue.EventLog.QueueRow
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The queue's PENDING set: a [[VersionedDir]] of snapshots plus an enqueue
  * inbox, under `queueDir/.pending/` (dot-prefixed, so the hive reader of
  * the terminal `status=*` partitions never lists it):
  *
  *   inbox/<uuid>/   enqueue spools, written to a `.spool-<uuid>.tmp` temp
  *                   and renamed in whole; immutable once visible
  *   v<N>-<hex>/     snapshot N of the pending rows (not-yet-due ∪
  *                   rescheduled), committed through [[VersionedDir]]; its
  *                   manifest payload is its [[SnapshotStats]] line, then
  *                   the inbox dirs it absorbed
  *   _owner          the single-writer [[Lease]]
  *
  * Rows in the store are PENDING by definition: a snapshot committed from a
  * dispatcher cycle's `partitionBy("status")` write carries no `status`
  * column of its own, and readers supply it.
  *
  * Readers resolve the manifest once, then read snapshot ∪ (inbox ∖
  * consumed). Manifest before inbox means a commit racing a reader yields a
  * consistent older state, never a doubled row. Enqueue never coordinates
  * with the dispatcher: a spool landing mid-cycle is not in the cycle's
  * [[Capture]], so it is next cycle's work.
  *
  * Inbox GC runs after the commit and only for dirs the previous snapshot
  * already absorbed, so only a reader two or more commits stale could still
  * reference them; each is tombstone-renamed first, so a lister sees the
  * whole spool or none of it. Readers that stale read with
  * `ignoreMissingFiles` and may see an older but consistent state.
  *
  * One dispatcher writes per queue. The lease is the cooperative layer: it
  * fails a second dispatcher fast, with an error naming the owner. The
  * [[VersionedDir]] commit is the fence: of two writers that pass the lease
  * check, one commits and the other gets [[ConcurrentWriterException]].
  */
object PendingStore {

  /** A writer lease on one queue's PENDING store. Holding it is the ONLY
    * sanctioned way to [[commit]]: the store is single-writer by design
    * (the reference gets multi-backend enqueue from Postgres MVCC; a
    * lakehouse format with optimistic concurrency is the multi-writer
    * upgrade path), and before this lease nothing *enforced* that — a
    * second dispatcher pointed at the same queueDir would silently flip
    * manifests over the first (lost updates). `token` is the unforgeable
    * proof of ownership; `ttlMs` bounds how long a crashed holder blocks
    * takeover (every commit and idle cycle renews). */
  final case class Lease(owner: String, token: String, ttlMs: Long)

  /** A point-in-time view: the live snapshot (its payload is its stats and
    * the inbox dirs it consumed) plus the non-consumed inbox dirs captured
    * by name. One capture feeds a whole dispatcher cycle — scan, rewrite,
    * and commit all agree on exactly which files are "the batch". */
  final case class Capture(manifest: VersionedDir.Snapshot, inbox: Seq[String])

  /** What a snapshot's writer observed on its one write, kept in the
    * snapshot's manifest entry so an idle dispatcher cycle and
    * `Dispatcher.hasPending` answer without a Spark job: the row count and
    * the minimum `next_attempt` and `created_at` in epoch ms (None when the
    * snapshot is empty). */
  final case class SnapshotStats(rows: Long, minNextAttempt: Option[Long],
                                 minCreatedAt: Option[Long])

  object SnapshotStats {
    val Empty: SnapshotStats = SnapshotStats(0L, None, None)

    /** Payload line prefix; inbox dir names are uuids, so never collide. */
    private[queue] val Tag = "#stats"

    def line(s: SnapshotStats): String = {
      def ms(v: Option[Long]) = v.fold("-")(_.toString)
      s"$Tag rows=${s.rows} min_next_attempt=${ms(s.minNextAttempt)} " +
        s"min_created_at=${ms(s.minCreatedAt)}"
    }

    def parse(line: String): Option[SnapshotStats] =
      if (!line.startsWith(Tag + " ")) None
      else {
        val kv = line.drop(Tag.length).trim.split(' ').flatMap(_.split('=') match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }).toMap
        def ms(k: String) = kv.get(k).filter(_ != "-").map(_.toLong)
        kv.get("rows").map(r => SnapshotStats(r.toLong, ms("min_next_attempt"), ms("min_created_at")))
      }

    /** Aggregates that observe the stats of the rows selected by `kept`. */
    def columns(kept: Column): Seq[Column] = Seq(
      count_if(kept).as("rows"),
      min(when(kept, col("next_attempt"))).as("min_next_attempt"),
      min(when(kept, col("created_at"))).as("min_created_at"))

    /** The stats out of an `Observation` of [[columns]]. */
    def observed(m: Map[String, Any]): SnapshotStats = {
      def ms(k: String): Option[Long] = m.get(k).flatMap {
        case t: java.sql.Timestamp => Some(t.getTime)
        case _ => None // the min over no rows
      }
      SnapshotStats(m("rows").asInstanceOf[Long], ms("min_next_attempt"), ms("min_created_at"))
    }
  }

  /** The stats of the snapshot `snap` captured: [[SnapshotStats.Empty]] for
    * a store with no snapshot yet, None for a snapshot committed without
    * them (callers treat it as possibly due). Excludes the captured inbox. */
  def stats(snap: Capture): Option[SnapshotStats] =
    if (snap.manifest.version == 0L) Some(SnapshotStats.Empty)
    else snap.manifest.payload.collectFirst(Function.unlift(SnapshotStats.parse))

  /** The inbox dirs `m` absorbed: its payload without the stats line. */
  private def consumed(m: VersionedDir.Snapshot): Seq[String] =
    m.payload.filterNot(_.startsWith(SnapshotStats.Tag))

  private def root(queueDir: String): Path = Paths.get(queueDir, ".pending")
  private def inboxRoot(queueDir: String): Path = root(queueDir).resolve("inbox")
  private def ownerPath(queueDir: String): Path = root(queueDir).resolve("_owner")

  /** (token, expiryMillis) of the current lease file, if any. */
  private def readLeaseFile(queueDir: String): Option[(String, Long)] = {
    val p = ownerPath(queueDir)
    if (!Files.exists(p)) None
    else
      try {
        val lines = Files.readAllLines(p)
        if (lines.size() < 2) None
        else Some((lines.get(0).trim, lines.get(1).trim.toLong))
      } catch { case _: java.io.IOException | _: NumberFormatException => None }
  }

  /** Lease files are only ever published COMPLETE: content goes to a hidden
    * temp first, then one atomic step (link or rename) makes it visible.
    * A reader can never observe a half-written lease — that gap is exactly
    * what would let two racing acquirers both "win" a fresh queue. */
  private def writeLeaseTemp(queueDir: String, token: String, ttlMs: Long): Path = {
    val tmp = root(queueDir).resolve(
      "._owner." + java.util.UUID.randomUUID().toString + ".tmp")
    Files.write(tmp, s"$token\n${System.currentTimeMillis() + ttlMs}".getBytes)
    tmp
  }

  /** Test seam (same spirit as commit's `onStep`): invoked before every
    * lease-file write; PendingStoreSpec injects a one-shot IOException here
    * to prove the heartbeat survives a transient renewal failure. */
  @volatile private[queue] var leaseWriteFault: () => Unit = () => ()

  private def writeLeaseFile(queueDir: String, token: String, ttlMs: Long): Unit = {
    leaseWriteFault()
    Files.move(writeLeaseTemp(queueDir, token, ttlMs), ownerPath(queueDir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The owner id of the live (unexpired) lease, if any — ops/tests view. */
  def leaseHolder(queueDir: String): Option[String] =
    readLeaseFile(queueDir).collect {
      case (tok, exp) if exp > System.currentTimeMillis() =>
        tok.takeWhile(_ != '#')
    }

  /** Acquire the writer lease for `queueDir`, failing fast with
    * [[ConcurrentWriterException]] if another owner's lease is live.
    * An EXPIRED lease (holder crashed and never renewed) may be taken over.
    * Acquisition on a fresh queue is atomic (CREATE_NEW): two dispatchers
    * racing see exactly one winner and one clean refusal. Takeover of an
    * expired lease is last-writer-wins among racers, and [[commit]]'s
    * pre-flip verification catches any loser before it can flip a manifest. */
  def acquireLease(queueDir: String, owner: String,
                   ttlMs: Long = 30000L): Lease = {
    require(!owner.contains('#') && !owner.contains('\n'), "owner must be a plain name")
    Files.createDirectories(root(queueDir))
    val token = owner + "#" + java.util.UUID.randomUUID().toString
    def refuse(tok: String): Nothing =
      throw new ConcurrentWriterException(
        s"queue '$queueDir' is owned by '${tok.takeWhile(_ != '#')}' (live lease); " +
          "exactly one dispatcher may own a queue — stop it or wait for its " +
          "lease to expire")
    readLeaseFile(queueDir) match {
      case Some((tok, exp)) if exp > System.currentTimeMillis() => refuse(tok)
      case _ =>
        // Fresh create: hard-link the COMPLETE temp into place —
        // createLink is atomic-exclusive (fails if `_owner` exists) and
        // publishes full content in that one step, so of two racers on a
        // fresh queue exactly one wins and the other reads the winner's
        // finished lease. Expired/malformed leases fall through to a
        // replace-rename takeover (last racer wins; the pre-flip commit
        // check catches any loser before it can do damage).
        val tmp = writeLeaseTemp(queueDir, token, ttlMs)
        try { Files.createLink(ownerPath(queueDir), tmp); Files.delete(tmp) }
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            Files.deleteIfExists(tmp)
            readLeaseFile(queueDir) match {
              case Some((tok, exp)) if exp > System.currentTimeMillis() && tok != token =>
                refuse(tok)
              case _ => writeLeaseFile(queueDir, token, ttlMs)
            }
        }
    }
    Lease(owner, token, ttlMs)
  }

  /** Renew `lease`. Refuses if the `_owner` file carries a FOREIGN token or
    * is gone (superseded/released — renewing would evict the rightful
    * owner), but re-claims our own lease even if EXPIRED: an expired lease
    * is takeover-able by anyone, including its old holder, and the file
    * still carrying our token proves nobody else has. This is what lets a
    * [[heartbeat]] (or an idle-cycle renewal) self-heal after a pause
    * longer than the ttl instead of livelocking — while [[commit]]'s own
    * verification stays strict (an expired token refuses there; the
    * recovery path is the next renewal, not a commit on a dead lease).
    *
    * Residual, same family as [[releaseLease]]'s: read-then-write is not
    * atomic, so a takeover landing inside a re-claim's window can lose its
    * fresh `_owner` file to our rename. Both holders then believe they own
    * the queue — and the flip's CAS still settles every commit to one
    * winner; the loser (and the clobbered owner, at its next renewal)
    * surfaces a clean refusal. Lease accuracy can degrade in that window;
    * commit safety cannot. */
  def renewLease(queueDir: String, lease: Lease): Unit = {
    readLeaseFile(queueDir) match {
      case Some((tok, _)) if tok == lease.token => () // ours, live or expired
      case _ => verifyLease(queueDir, Some(lease)) // foreign/missing: refuse with the standard error
    }
    writeLeaseFile(queueDir, lease.token, lease.ttlMs)
  }

  /** Keep `lease` alive across long busy cycles: a daemon thread renews it
    * every ttl/3 until closed (or until the lease is lost to a takeover, at
    * which point renewing stops and the holder's next commit gets the
    * refusal). Without this, a delivery pass longer than the ttl — slow
    * webhooks × a deep backlog — expires the lease mid-cycle and the
    * commit-time check refuses a cycle that then retries just as slowly:
    * a livelock, the standard failure mode of TTL leases without keepers. */
  def heartbeat(queueDir: String, lease: Lease): AutoCloseable = {
    val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-lease-heartbeat"); t.setDaemon(true); t })
    val period = math.max(1L, lease.ttlMs / 3)
    // The task must swallow EVERYTHING except the definitive loss signal:
    // scheduleAtFixedRate cancels all subsequent runs the moment a run
    // throws, so an un-caught transient (NFS blip, EINTR-wrapped
    // IOException) would silently stop renewal and reintroduce the exact
    // mid-cycle-expiry livelock the heartbeat exists to prevent. The lease
    // survives a missed beat by construction (renewLease re-claims our own
    // token even if expired), so retrying next period is always safe.
    // ConcurrentWriterException alone means the lease is genuinely gone to
    // another writer — then renewing must stop for good.
    //
    // Swallowed ≠ silent: a PERSISTENT failure (bad permissions, full disk)
    // means renewal never lands and the lease expires mid-cycle with the
    // holder none the wiser — so every miss is logged, and once the
    // consecutive-miss streak spans the TTL (> ttl/period straight misses:
    // the lease is provably expired from a foreign observer's view) the
    // warning escalates to say so. Renewal keeps retrying even then —
    // shutting down would guarantee the livelock the commit-time
    // verifyLease already guards against; the holder's next commit gets
    // the clean refusal either way.
    val missesBeyondTtl = (lease.ttlMs + period - 1) / period // ceil(ttl/period)
    val consecutiveMisses = new java.util.concurrent.atomic.AtomicLong(0)
    exec.scheduleAtFixedRate(
      () => try { renewLease(queueDir, lease); consecutiveMisses.set(0) }
            catch {
              case _: ConcurrentWriterException => exec.shutdown()
              case scala.util.control.NonFatal(e) => // transient: retry next beat
                val n = consecutiveMisses.incrementAndGet()
                val expired = if (n >= missesBeyondTtl)
                  s" — streak exceeds the ${lease.ttlMs} ms TTL; the lease is " +
                    "expired and open to takeover until a renewal lands" else ""
                System.err.println(s"WARN lease renewal for $queueDir failed " +
                  s"($n consecutive): ${e.getClass.getSimpleName}: ${e.getMessage}$expired")
            },
      period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    // close() must JOIN the in-flight beat, not just signal it: the
    // universal holder shutdown sequence is close-then-releaseLease, and a
    // renewal already past the interrupt point when shutdownNow() lands
    // would re-write the lease file AFTER the release deletes it —
    // resurrecting a ghost holder that refuses every new acquirer for a
    // full TTL. awaitTermination makes the release strictly follow the
    // last possible write (the timeout only bounds a wedged filesystem).
    () => {
      exec.shutdownNow()
      exec.awaitTermination(lease.ttlMs + 10000L,
        java.util.concurrent.TimeUnit.MILLISECONDS)
    }
  }

  /** Release `lease` if still held (no-op if it was already taken over).
    *
    * The read-then-delete pair is not atomic: if the lease has ALREADY
    * expired (the holder broke its own ttl contract) a takeover can land
    * between the two steps and lose its fresh `_owner` file. The failure
    * direction is safe — the new owner's next commit fails fast at
    * verifyLease instead of two writers flipping manifests — and the
    * window does not exist for a holder that releases before its ttl
    * elapses (renewal on every cycle makes that the steady state). */
  def releaseLease(queueDir: String, lease: Lease): Unit =
    readLeaseFile(queueDir) match {
      case Some((tok, _)) if tok == lease.token =>
        try Files.deleteIfExists(ownerPath(queueDir))
        catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
      case _ => ()
    }

  /** Fail-fast ownership check, called at commit entry and again immediately
    * before the manifest flip. With a lease: the `_owner` file must still
    * carry OUR token AND the token must be unexpired — a holder paused past
    * its TTL (long GC, SIGSTOP) whose `_owner` file has not yet been replaced
    * would otherwise pass here while a takeover lands between the check and
    * the flip. Without a lease: commits are refused while any live lease
    * exists — an unmanaged commit must not race a managed dispatcher.
    *
    * This check is the COOPERATIVE layer: it exists to refuse the common
    * second-dispatcher cases early, with errors that name the other owner.
    * It is deliberately not the correctness fence — check→flip is not
    * atomic, and a takeover can land inside that window. What makes the
    * window harmless is the flip itself: [[VersionedDir.commit]] publishes
    * the next manifest version by exclusive hard-link, so of two writers
    * that both pass this check, exactly one commits and the other gets a
    * [[ConcurrentWriterException]] with no partial effects. */
  private def verifyLease(queueDir: String, lease: Option[Lease]): Unit =
    (lease, readLeaseFile(queueDir)) match {
      case (Some(l), Some((tok, exp))) =>
        if (tok != l.token)
          throw new ConcurrentWriterException(
            s"queue '$queueDir' lease lost: now owned by '${tok.takeWhile(_ != '#')}' " +
              s"(we are '${l.owner}'); refusing to flip the manifest over theirs")
        if (exp <= System.currentTimeMillis())
          throw new ConcurrentWriterException(
            s"queue '$queueDir' lease expired un-renewed (holder '${l.owner}' paused " +
              "past its ttl?); a takeover may be in progress — refusing to commit " +
              "on a dead lease")
      case (Some(l), None) =>
        throw new ConcurrentWriterException(
          s"queue '$queueDir' lease lost: our lease ('${l.owner}') was released " +
            "or swept; refusing to commit without ownership")
      case (None, Some((tok, exp))) if exp > System.currentTimeMillis() =>
        throw new ConcurrentWriterException(
          s"queue '$queueDir' is owned by '${tok.takeWhile(_ != '#')}'; " +
            "un-leased commits are refused while a dispatcher owns the queue")
      case _ => () // no lease anywhere: unmanaged single-writer mode
    }

  /** The live snapshot; its payload is its stats and the inbox dirs it
    * consumed. */
  def manifest(queueDir: String): VersionedDir.Snapshot = VersionedDir.resolve(root(queueDir))

  def listInbox(queueDir: String): Seq[String] = {
    val d = inboxRoot(queueDir)
    if (!Files.exists(d)) Nil
    else {
      val s = Files.list(d)
      try {
        val it = s.iterator(); val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (!n.startsWith(".")) b += n
        }
        b.result().sorted
      } finally s.close()
    }
  }

  def capture(queueDir: String): Capture = {
    val m = manifest(queueDir)
    Capture(m, listInbox(queueDir).filterNot(consumed(m).toSet))
  }

  /** Atomic enqueue: write the rows to a hidden temp dir, then one rename
    * makes the complete spool visible. Concurrent spools use distinct
    * uuids; nothing contends. A crashed spool's temp is a dead `.tmp` that
    * [[VersionedDir]]'s retention sweeps. A batch with no rows publishes
    * nothing, so it never makes the queue look pending. */
  def spool(rows: DataFrame, queueDir: String): Unit = {
    Files.createDirectories(inboxRoot(queueDir))
    val name = java.util.UUID.randomUUID().toString
    val tmp = root(queueDir).resolve(s".spool-$name.tmp")
    val written = Observation()
    rows.observe(written, count(lit(1)).as("rows")).write.mode("overwrite").parquet(tmp.toString)
    if (written.get("rows") == 0L) deleteRec(tmp)
    else Files.move(tmp, inboxRoot(queueDir).resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The live PENDING set as of a fresh capture. */
  def read(spark: SparkSession, queueDir: String): DataFrame =
    readAt(spark, queueDir, capture(queueDir))

  /** The PENDING set a given capture saw: snapshot ∪ captured inbox, schema
    * supplied explicitly (no footer inference). A snapshot whose stats say
    * it is empty is not read. `ignoreMissingFiles` covers readers more than
    * one commit stale whose files GC already swept. */
  def readAt(spark: SparkSession, queueDir: String, snap: Capture): DataFrame = {
    val schema = org.apache.spark.sql.Encoders.product[QueueRow].schema
    val snapshotRows = snap.manifest.version > 0L && stats(snap).forall(_.rows > 0L)
    val paths =
      (if (snapshotRows) Seq(snap.manifest.path) else Nil) ++
        snap.inbox.map(inboxRoot(queueDir).resolve)
    val existing = paths.filter(Files.exists(_)).map(_.toString)
    if (existing.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).option("ignoreMissingFiles", "true")
        .parquet(existing: _*)
        .withColumn("status", lit("PENDING"))
  }

  /** A fresh stage dir for the snapshot after the one `snap` captured. */
  def stage(snap: Capture): Path = VersionedDir.stage(snap.manifest)

  /** Commit `newPending` as the next snapshot and retire the capture's inbox
    * dirs: the rows are written as the stage's `status=PENDING` part and
    * committed by [[commitStaged]], with stats observed on that write.
    */
  private[queue] def commit(newPending: DataFrame, queueDir: String, snap: Capture,
                            onStep: String => Unit = _ => (),
                            lease: Option[Lease] = None): Unit = {
    verifyLease(queueDir, lease) // fail fast, before the parquet write
    val staged = stage(snap)
    val written = Observation()
    val stats = SnapshotStats.columns(lit(true))
    newPending.observe(written, stats.head, stats.tail: _*)
      .write.parquet(staged.resolve("status=PENDING").toString)
    commitStaged(staged, SnapshotStats.observed(written.get), queueDir, snap, onStep, lease)
  }

  /** Commit a stage dir (from [[stage]]) as the next snapshot and retire
    * the capture's inbox dirs. `staged` holds one `partitionBy("status")`
    * write whose terminal partitions, if any, have already landed in the
    * history (`EventLog.landTerminal`); its `status=PENDING` files become
    * the snapshot's own, and `stats` were observed on that write.
    *
    * The [[VersionedDir.commit]] link is the only reader-visible instant.
    * Its payload is the stats line, then this capture's inbox plus every
    * previously consumed dir that still exists, since a failed GC keeps a
    * name excluded until the dir is actually gone. After the commit, the
    * previous snapshot's consumed dirs are GC'd.
    *
    * The lease is verified at entry and again just before the commit (clear
    * errors for the common second-dispatcher case); the commit's exclusive
    * link is the fence. `onStep` is the crash-test seam, forwarded to
    * [[VersionedDir.commit]] and also called once the snapshot's files are
    * in place and after the inbox GC. */
  def commitStaged(staged: Path, stats: SnapshotStats, queueDir: String, snap: Capture,
                   onStep: String => Unit = _ => (),
                   lease: Option[Lease] = None): Unit = {
    verifyLease(queueDir, lease)
    val part = staged.resolve("status=PENDING")
    if (Files.isDirectory(part)) {
      val s = Files.list(part)
      try s.forEach(f => Files.move(f, staged.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
      finally s.close()
      Files.delete(part)
    }
    onStep("snapshot-written")
    val prev = snap.manifest
    val carried = consumed(prev).filter(n => Files.exists(inboxRoot(queueDir).resolve(n)))
    verifyLease(queueDir, lease)
    VersionedDir.commit(prev, staged,
      SnapshotStats.line(stats) +: (snap.inbox ++ carried).distinct, onStep)
    lease.foreach(l => writeLeaseFile(queueDir, l.token, l.ttlMs)) // renew
    sweepTombstones(queueDir) // a crashed inbox GC leaves '.<name>.gc' dirs; clear first
    carried.foreach(gcInboxDir(queueDir, _))
    onStep("inbox-gc")
  }

  /** Tombstone-then-delete an inbox dir: the rename removes it from every
    * directory listing in one atomic step, so a reader that lists the inbox
    * mid-GC sees the whole spool or none of it — never the partial file set
    * a file-by-file delete exposes. Contents are deleted from the hidden
    * tombstone afterwards. */
  private def gcInboxDir(queueDir: String, name: String): Unit = {
    val d = inboxRoot(queueDir).resolve(name)
    if (Files.exists(d)) {
      val tomb = inboxRoot(queueDir).resolve("." + name + ".gc")
      try {
        Files.move(d, tomb, StandardCopyOption.ATOMIC_MOVE)
        deleteRec(tomb)
      } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () } // stays carried; retried next commit
    }
  }

  /** Remove tombstones a crashed GC left behind (dot-prefixed, so they were
    * never reader-visible). */
  private def sweepTombstones(queueDir: String): Unit = {
    val d = inboxRoot(queueDir)
    if (Files.exists(d)) {
      val s = Files.list(d)
      try {
        val it = s.iterator()
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (n.startsWith(".") && n.endsWith(".gc"))
            try deleteRec(p) catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
        }
      } finally s.close()
    }
  }

  private def deleteRec(p: Path): Unit = Maintenance.deleteRec(p)
}
