package graft.queue

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The manifest-committed PENDING store: the queue's reader-visible state
  * must change only at the exclusive-create of the next numbered manifest
  * log entry. The core proof kills the writer between every pair of commit
  * steps and asserts a reader never observes a missing or doubled row — the
  * atomicity the reference inherits from Postgres MVCC, which the round-4
  * directory-rename swap could not give a concurrent reader (it had to
  * retry). The CAS cases then pin the flip itself: a stale capture and a
  * same-version race each end with exactly one committed writer and one
  * clean refusal — under the pre-CAS rename flip the later writer silently
  * won and discarded the other's cycle. */
class PendingStoreSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft_pstore_").toString + "/q"

  private def row(id: String, dueAt: Long = 0L): EventLog.QueueRow =
    EventLog.QueueRow(
      id = id, trigger_schema = "public", trigger_table = "t",
      trigger_name = "tr", webhook_url = "http://127.0.0.1:1/hook",
      headers = "{}", payload = "{}", timeout = 10, status = "PENDING",
      attempt_count = 0, attempts_time = Seq.empty, attempts_status = Seq.empty,
      attempts_response = Seq.empty, next_attempt = new Timestamp(dueAt),
      retry_number = 2, retry_interval = 2, retry_backoff = "EXPONENTIAL",
      created_at = new Timestamp(dueAt), updated_at = new Timestamp(dueAt))

  private def df(ids: String*): DataFrame = ids.map(row(_)).toDF()

  private def readIds(dir: String): Seq[String] =
    PendingStore.read(spark, dir).select($"id").as[String].collect().toSeq.sorted

  test("spool is visible immediately; commit absorbs it exactly once") {
    val dir = tmp()
    PendingStore.spool(df("a1", "a2"), dir)
    assert(readIds(dir) == Seq("a1", "a2"))
    val snap = PendingStore.capture(dir)
    PendingStore.commit(PendingStore.readAt(spark, dir, snap), dir, snap)
    // absorbed into v1, spool marked consumed — same rows, no doubling
    assert(readIds(dir) == Seq("a1", "a2"))
    assert(PendingStore.manifest(dir).version == 1L)
    assert(PendingStore.capture(dir).inbox.isEmpty, "spool must be consumed")
  }

  test("a spool landing mid-cycle is not consumed by that cycle's commit") {
    val dir = tmp()
    PendingStore.spool(df("a1"), dir)
    val snap = PendingStore.capture(dir) // cycle captured only a1's spool
    PendingStore.spool(df("b1"), dir)    // lands mid-cycle
    PendingStore.commit(PendingStore.readAt(spark, dir, snap), dir, snap)
    // b1 survived in the inbox (the rename-swap layout would have lost it)
    assert(readIds(dir) == Seq("a1", "b1"))
    assert(PendingStore.capture(dir).inbox.size == 1)
  }

  test("writer killed between any two commit steps: readers see the old or new set, never partial") {
    val steps = Seq("snapshot-written", "published", "entry-written", "linked",
      "log-synced", "inbox-gc")
    for (killAt <- steps) {
      val dir = tmp()
      // state S1: snapshot v1 = {a1, a2, a3} + one fresh spool {b1, b2}
      PendingStore.spool(df("a1", "a2", "a3"), dir)
      val s0 = PendingStore.capture(dir)
      PendingStore.commit(PendingStore.readAt(spark, dir, s0), dir, s0)
      PendingStore.spool(df("b1", "b2"), dir)
      val before = Seq("a1", "a2", "a3", "b1", "b2")
      assert(readIds(dir) == before)

      // the transition under test: a1/a2 delivered, b's absorbed → {a3, b1, b2}
      val snap = PendingStore.capture(dir)
      val after = Seq("a3", "b1", "b2")
      val newPending = PendingStore.readAt(spark, dir, snap)
        .filter(!$"id".isin("a1", "a2"))
      intercept[RuntimeException] {
        PendingStore.commit(newPending, dir, snap,
          onStep = s => if (s == killAt) throw new RuntimeException(s"kill@$s"))
      }
      val seen = readIds(dir)
      assert(seen == before || seen == after,
        s"kill@$killAt: reader saw a partial state $seen")
      // the link IS the commit point: killed before it → old state; after → new
      val flipped = steps.indexOf(killAt) >= steps.indexOf("linked")
      assert(seen == (if (flipped) after else before), s"kill@$killAt")

      // a restarted writer converges with no repair step: re-run the cycle
      val snap2 = PendingStore.capture(dir)
      val retryPending = PendingStore.readAt(spark, dir, snap2)
        .filter(!$"id".isin("a1", "a2"))
      PendingStore.commit(retryPending, dir, snap2)
      assert(readIds(dir) == after, s"kill@$killAt: retry did not converge")
      // and the store is tidy again: next commit GCs any crash leftovers
      val snap3 = PendingStore.capture(dir)
      PendingStore.commit(PendingStore.readAt(spark, dir, snap3), dir, snap3)
      assert(readIds(dir) == after)
    }
  }

  test("concurrent reader during live commits never errors and never sees a partial set") {
    val dir = tmp()
    PendingStore.spool(df("a1", "a2", "a3", "a4", "a5"), dir)
    val s0 = PendingStore.capture(dir)
    PendingStore.commit(PendingStore.readAt(spark, dir, s0), dir, s0)

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val reader = new Thread(() => {
      // every poll must see one of the committed states, with no retry logic
      val legal = Set(
        Seq("a1", "a2", "a3", "a4", "a5"),
        Seq("a2", "a3", "a4", "a5"),
        Seq("a3", "a4", "a5"),
        Seq("a4", "a5"),
        Seq("a5"),
        Seq.empty[String])
      try while (!stop.get()) {
        val ids = readIds(dir)
        if (!legal(ids)) { bad.set(s"illegal state $ids"); stop.set(true) }
      } catch { case e: Throwable => bad.set(e.toString); stop.set(true) }
    })
    reader.start()
    try {
      // five commits, each retiring one row — flips race the reader loop
      for (k <- 1 to 5) {
        val snap = PendingStore.capture(dir)
        val np = PendingStore.readAt(spark, dir, snap)
          .filter($"id" > s"a$k")
        PendingStore.commit(np, dir, snap)
      }
    } finally { stop.set(true); reader.join(10000) }
    assert(bad.get() == null, s"concurrent reader failed: ${bad.get()}")
    assert(readIds(dir).isEmpty)
  }

  test("writer lease: two dispatchers on one queue — one wins, one refuses cleanly") {
    val dir = tmp()
    PendingStore.spool(df("a1"), dir)
    // concurrent acquisition: exactly one winner even when racing
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, PendingStore.Lease]]()
    val threads = (1 to 2).map { i =>
      new Thread(() =>
        try results.add(Right(PendingStore.acquireLease(dir, s"d$i")))
        catch { case e: ConcurrentWriterException => results.add(Left(e.getMessage)) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(10000))
    val (refused, won) = results.toArray(Array.empty[Either[String, PendingStore.Lease]])
      .partition(_.isLeft)
    assert(won.length == 1 && refused.length == 1,
      s"expected one winner, one refusal; got $results")
    val lease = won.head.toOption.get
    assert(refused.head.swap.toOption.get.contains("owned by"))

    // an un-leased commit is refused while the lease is live
    val snap = PendingStore.capture(dir)
    val err = intercept[ConcurrentWriterException] {
      PendingStore.commit(PendingStore.readAt(spark, dir, snap), dir, snap)
    }
    assert(err.getMessage.contains("owned by"))
    // ... and the holder commits fine
    PendingStore.commit(PendingStore.readAt(spark, dir, snap), dir, snap,
      lease = Some(lease))
    assert(readIds(dir) == Seq("a1"))
    // release frees the queue for the next owner
    PendingStore.releaseLease(dir, lease)
    assert(PendingStore.leaseHolder(dir).isEmpty)
  }

  test("writer lease: expired lease is taken over; the stale holder cannot flip") {
    val dir = tmp()
    PendingStore.spool(df("a1"), dir)
    val stale = PendingStore.acquireLease(dir, "old", ttlMs = 1L)
    Thread.sleep(10L) // lease expires unrenewed: holder presumed crashed
    val fresh = PendingStore.acquireLease(dir, "new")
    assert(PendingStore.leaseHolder(dir).contains("new"))
    // the stale holder wakes up mid-commit: the pre-flip check refuses it
    val snap = PendingStore.capture(dir)
    val err = intercept[ConcurrentWriterException] {
      PendingStore.commit(PendingStore.readAt(spark, dir, snap), dir, snap,
        lease = Some(stale))
    }
    assert(err.getMessage.contains("lease lost"), err.getMessage)
    assert(PendingStore.manifest(dir).version == 0L, "no manifest flip happened")
    // the new owner proceeds normally
    PendingStore.commit(PendingStore.readAt(spark, dir, snap), dir, snap,
      lease = Some(fresh))
    assert(readIds(dir) == Seq("a1"))
  }

  test("writer lease: a holder paused past its own ttl refuses to commit even before takeover") {
    // the wake-after-GC-pause hazard's FIRST line of defense: an expired
    // lease whose _owner file nobody replaced yet still fails verification
    // (a takeover could land between a stale-positive check and the flip)
    val dir = tmp()
    PendingStore.spool(df("a1"), dir)
    val lease = PendingStore.acquireLease(dir, "pausy", ttlMs = 1L)
    Thread.sleep(10L) // the 'GC pause': ttl elapses, no renewal, no takeover
    val snap = PendingStore.capture(dir)
    val err = intercept[ConcurrentWriterException] {
      PendingStore.commit(PendingStore.readAt(spark, dir, snap), dir, snap,
        lease = Some(lease))
    }
    assert(err.getMessage.contains("expired un-renewed"), err.getMessage)
    assert(PendingStore.manifest(dir).version == 0L, "no flip on a dead lease")
  }

  test("wake-after-takeover window: the old holder can neither flip nor clobber the winner's snapshot") {
    // The full hostile interleaving: the old holder passes the commit-entry
    // check and writes its snapshot; WHILE it is paused, its ttl expires, a
    // new owner takes over AND commits; the old holder then wakes and
    // resumes. The pre-flip check must refuse it, and — because snapshot dir
    // names are writer-unique — its earlier parquet write must not have
    // touched the winner's data path (the silent lost update the lease
    // exists to prevent).
    val dir = tmp()
    PendingStore.spool(df("a1", "a2"), dir)
    val stale = PendingStore.acquireLease(dir, "old", ttlMs = 1000L)
    val snap = PendingStore.capture(dir)
    val oldPending = PendingStore.readAt(spark, dir, snap) // {a1, a2}: the loser's state
    val err = intercept[ConcurrentWriterException] {
      PendingStore.commit(oldPending, dir, snap, lease = Some(stale),
        onStep = {
          case "snapshot-written" =>
            // the 'pause': ttl expires, a new owner takes over and commits
            // a DIFFERENT pending set ({a1} only) at the same version number
            Thread.sleep(1200L)
            val fresh = PendingStore.acquireLease(dir, "new")
            val s2 = PendingStore.capture(dir)
            PendingStore.commit(
              PendingStore.readAt(spark, dir, s2).filter($"id" =!= "a2"),
              dir, s2, lease = Some(fresh))
          case _ => ()
        })
    }
    assert(err.getMessage.contains("lease lost"), err.getMessage)
    // the winner's commit survives intact: its manifest, its data
    val m = PendingStore.manifest(dir)
    assert(m.version == 1L && m.name.startsWith("v1-"), m.toString)
    assert(readIds(dir) == Seq("a1"),
      "winner's snapshot was clobbered or its flip was overwritten")
    assert(PendingStore.leaseHolder(dir).contains("new"))
  }

  test("CAS flip: a commit from a stale capture is refused, never a silent overwrite") {
    val dir = tmp()
    PendingStore.spool(df("a1", "a2"), dir)
    val s0 = PendingStore.capture(dir)
    val sStale = PendingStore.capture(dir) // a second writer's view of the same tip
    PendingStore.commit(PendingStore.readAt(spark, dir, s0), dir, s0) // v1 commits
    // pre-CAS, this flip would have silently WON by rename order, discarding
    // v1's cycle; now the tip check refuses it whole
    val err = intercept[ConcurrentWriterException] {
      PendingStore.commit(
        PendingStore.readAt(spark, dir, sStale).filter($"id" === "a1"), dir, sStale)
    }
    assert(err.getMessage.contains("another writer committed since"), err.getMessage)
    assert(PendingStore.manifest(dir).version == 1L)
    assert(readIds(dir) == Seq("a1", "a2"), "the first commit's state must stand")
    // the refused writer converges the normal way: re-capture and retry
    val s2 = PendingStore.capture(dir)
    PendingStore.commit(
      PendingStore.readAt(spark, dir, s2).filter($"id" === "a1"), dir, s2)
    assert(readIds(dir) == Seq("a1"))
    assert(PendingStore.manifest(dir).version == 2L)
  }

  test("CAS flip: two writers racing the same version — exactly one publishes, one refused") {
    val dir = tmp()
    PendingStore.spool(df("a1", "a2"), dir)
    val s0 = PendingStore.capture(dir)
    PendingStore.commit(PendingStore.readAt(spark, dir, s0), dir, s0) // v1 live
    for (round <- 1 to 3) {
      val snap = PendingStore.capture(dir)
      val outcomes =
        new java.util.concurrent.ConcurrentLinkedQueue[Either[String, Unit]]()
      val writers = (1 to 2).map { _ =>
        val np = PendingStore.readAt(spark, dir, snap)
        new Thread(() =>
          try { PendingStore.commit(np, dir, snap); outcomes.add(Right(())) }
          catch {
            case e: ConcurrentWriterException =>
              outcomes.add(Left(e.getMessage))
            case e: Throwable => // anything else is a FAILED refusal, not a clean one
              outcomes.add(Left(s"UNEXPECTED ${e.getClass.getName}: ${e.getMessage}"))
          })
      }
      writers.foreach(_.start()); writers.foreach(_.join(60000))
      val (lost, won) =
        outcomes.toArray(Array.empty[Either[String, Unit]]).partition(_.isLeft)
      // whichever gate settles it (tip check or the exclusive link), the
      // invariant is the same: one commit stands whole, one is refused whole
      assert(won.length == 1 && lost.length == 1,
        s"round $round: expected one winner, one refusal; got $outcomes")
      assert(lost.forall(!_.swap.toOption.get.startsWith("UNEXPECTED")),
        s"round $round: the loser must get a CLEAN refusal; got $outcomes")
      assert(readIds(dir) == Seq("a1", "a2"), s"round $round: data must be intact")
      assert(PendingStore.manifest(dir).version == 1L + round)
    }
  }

  test("version GC: bounded steady state; a racer's in-progress temp survives, its published orphan sweeps") {
    val dir = tmp()
    PendingStore.spool(df("a1"), dir)
    // three commits: the store must hold exactly {v3, v2} afterwards — a
    // dispatcher at a 1 s cadence must never accrue snapshot dirs
    for (_ <- 1 to 3) {
      val s = PendingStore.capture(dir)
      PendingStore.commit(PendingStore.readAt(spark, dir, s), dir, s)
    }
    def versionDirs(): Seq[String] = {
      val s = Files.list(Paths.get(dir, ".pending"))
      try {
        val it = s.iterator(); val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.matches("v\\d+(-[0-9a-f]{8})?")) b += n
        }
        b.result().sorted
      } finally s.close()
    }
    assert(versionDirs().map(_.take(2)).sorted == Seq("v2", "v3"),
      s"steady state must keep exactly the committed pair; got ${versionDirs()}")
    // a racer's IN-PROGRESS write lives in a dot-prefixed stage temp:
    // fresh mtime = possibly-live writer, must survive any commit's sweep
    val inProgress = Paths.get(dir, ".pending", ".v4-deadbeef.tmp")
    Files.createDirectories(inProgress)
    Files.write(inProgress.resolve("part-0.parquet"), "in progress".getBytes)
    // a PUBLISHED orphan (complete by construction — publication is the
    // rename from the temp) sweeps on the next commit, fresh or not
    val orphan = Paths.get(dir, ".pending", "v4-0badf00d")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-0.parquet"), "complete orphan".getBytes)
    val s4 = PendingStore.capture(dir)
    PendingStore.commit(PendingStore.readAt(spark, dir, s4), dir, s4) // real v4
    assert(Files.exists(inProgress), "a fresh stage temp must never be swept")
    assert(!Files.exists(orphan), "a published orphan sweeps immediately")
    // once the temp is demonstrably dead (no mtime progress past the
    // grace), the stale sweep reclaims it like any crashed writer's leavings
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600 * 1000L)
    Files.walk(inProgress).forEach(p => Files.setLastModifiedTime(p, old))
    val s5 = PendingStore.capture(dir)
    PendingStore.commit(PendingStore.readAt(spark, dir, s5), dir, s5)
    assert(!Files.exists(inProgress), "a stale stage temp must be swept")
    assert(readIds(dir) == Seq("a1"))
  }

  test("lease liveness: a heartbeat carries a busy cycle past its ttl; wake-after-pause self-heals at renewal") {
    val dir = tmp()
    PendingStore.spool(df("a1"), dir)
    // a 'delivery pass' longer than the ttl: without the heartbeat the
    // commit-time expiry check would refuse a cycle that retries just as
    // slowly — the TTL-lease livelock
    val lease = PendingStore.acquireLease(dir, "busy", ttlMs = 300L)
    val hb = PendingStore.heartbeat(dir, lease)
    try {
      val snap = PendingStore.capture(dir)
      Thread.sleep(900L) // 3× the ttl elapses mid-cycle
      PendingStore.commit(PendingStore.readAt(spark, dir, snap), dir, snap,
        lease = Some(lease)) // heartbeat renewals kept the token live
      assert(readIds(dir) == Seq("a1"))
    } finally { hb.close(); PendingStore.releaseLease(dir, lease) }

    // renewLease re-claims OUR expired-but-unreplaced lease (the wake after
    // a pause, before any takeover)... ttl wide enough that the renewed
    // lease is still live when asserted, sleep comfortably past it
    val paused = PendingStore.acquireLease(dir, "pausy", ttlMs = 2000L)
    Thread.sleep(2300L)
    assert(PendingStore.leaseHolder(dir).isEmpty, "precondition: lease expired")
    PendingStore.renewLease(dir, paused) // self-heal, not a refusal
    assert(PendingStore.leaseHolder(dir).contains("pausy"))
    PendingStore.releaseLease(dir, paused)
    // ...but never a lease someone else took over in the meantime
    val lost = PendingStore.acquireLease(dir, "loser", ttlMs = 1L)
    Thread.sleep(10L)
    val winner = PendingStore.acquireLease(dir, "winner")
    val err = intercept[ConcurrentWriterException] {
      PendingStore.renewLease(dir, lost)
    }
    assert(err.getMessage.contains("lease lost"), err.getMessage)
    assert(PendingStore.leaseHolder(dir).contains("winner"))
    PendingStore.releaseLease(dir, winner)
  }

  test("crashed enqueue's .spool-* temp is swept once stale, never while fresh") {
    val dir = tmp()
    PendingStore.spool(df("a1"), dir)
    // simulate an enqueue that died between parquet write and rename
    val dead = Paths.get(dir, ".pending", ".spool-deadbeef.tmp")
    Files.createDirectories(dead)
    Files.write(dead.resolve("part-0.parquet"), "bytes".getBytes)
    val s0 = PendingStore.capture(dir)
    // fresh temp (mtime now): must survive — could be a live writer
    PendingStore.commit(PendingStore.readAt(spark, dir, s0), dir, s0)
    assert(Files.exists(dead), "fresh temp must not be swept")
    // age it past the grace: demonstrably dead, swept by the next commit
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600 * 1000L)
    Files.walk(dead).forEach(p => Files.setLastModifiedTime(p, old))
    val s1 = PendingStore.capture(dir)
    PendingStore.commit(PendingStore.readAt(spark, dir, s1), dir, s1)
    assert(!Files.exists(dead), "stale temp must be swept")
    assert(readIds(dir) == Seq("a1"))
  }

  test("crashed inbox GC's tombstone is invisible and swept by the next commit") {
    val dir = tmp()
    PendingStore.spool(df("a1"), dir)
    val s0 = PendingStore.capture(dir)
    PendingStore.commit(PendingStore.readAt(spark, dir, s0), dir, s0)
    // a GC that died between tombstone-rename and content delete
    val tomb = Paths.get(dir, ".pending", "inbox", ".x.gc")
    Files.createDirectories(tomb)
    Files.write(tomb.resolve("part-0.parquet"), "bytes".getBytes)
    assert(readIds(dir) == Seq("a1"), "tombstone must be invisible to readers")
    assert(PendingStore.capture(dir).inbox.isEmpty)
    val s1 = PendingStore.capture(dir)
    PendingStore.commit(PendingStore.readAt(spark, dir, s1), dir, s1)
    assert(!Files.exists(tomb), "tombstone must be swept")
  }

  test("heartbeat survives a transient renewal failure (one-shot IOException)") {
    // scheduleAtFixedRate cancels ALL future runs when a run throws — before
    // the NonFatal catch, one NFS blip silently stopped renewal and the
    // mid-cycle-expiry livelock came back. The beat must swallow transients
    // and retry next period; only ConcurrentWriterException (lease genuinely
    // lost) stops it.
    val dir = tmp()
    PendingStore.spool(df("a1"), dir)
    val lease = PendingStore.acquireLease(dir, "busy", ttlMs = 300L)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    PendingStore.leaseWriteFault = () =>
      if (fired.compareAndSet(false, true))
        throw new java.io.IOException("injected transient renewal failure")
    val hb = PendingStore.heartbeat(dir, lease)
    try {
      val snap = PendingStore.capture(dir)
      Thread.sleep(900L) // 3x the ttl; the first beat dies on the fault
      assert(fired.get, "the injected fault must have fired")
      // beats after the fault kept renewing: the commit still owns the lease
      PendingStore.commit(PendingStore.readAt(spark, dir, snap), dir, snap,
        lease = Some(lease))
      assert(readIds(dir) == Seq("a1"))
    } finally {
      PendingStore.leaseWriteFault = () => ()
      hb.close(); PendingStore.releaseLease(dir, lease)
    }
  }

  test("crashed commit's orphan snapshot is invisible and swept by the next commit") {
    val dir = tmp()
    PendingStore.spool(df("a1"), dir)
    val s0 = PendingStore.capture(dir)
    PendingStore.commit(PendingStore.readAt(spark, dir, s0), dir, s0) // v1 live
    // a commit that died before its flip: orphan v2 with garbage content
    val orphan = Paths.get(dir, ".pending", "v2-0badf00d")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-junk.parquet"), "not parquet".getBytes)
    assert(readIds(dir) == Seq("a1"), "orphan must be invisible to readers")
    // next cycle commits v2 for real under its own name; retention sweeps
    // the orphan
    val snap = PendingStore.capture(dir)
    PendingStore.commit(PendingStore.readAt(spark, dir, snap), dir, snap)
    assert(PendingStore.manifest(dir).version == 2L)
    assert(!Files.exists(orphan), "the orphan must be swept")
    assert(readIds(dir) == Seq("a1"))
  }
}
