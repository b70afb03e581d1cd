package graft.queue

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{CyclicBarrier, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one commit protocol every versioned store uses, proven without
  * Spark: a failure injected after EVERY filesystem step of a commit and of
  * its retention leaves readers on the whole old or the whole new snapshot,
  * the next commit converges with no repair step, and writers racing for
  * one version produce exactly one winner. */
class VersionedDirSpec extends AnyFunSuite {

  private def newRoot(): Path = Files.createTempDirectory("graft_vdir_").resolve("store")

  /** Commit a snapshot holding one `data` file with `content`. */
  private def commit(root: Path, content: String,
                     onStep: String => Unit = _ => (),
                     graceMs: Long = 0L): VersionedDir.Snapshot = {
    val base = VersionedDir.resolve(root)
    VersionedDir.commit(base, staged(base, content), Seq(s"p-$content"), onStep, graceMs)
  }

  private def staged(base: VersionedDir.Snapshot, content: String): Path = {
    val st = VersionedDir.stage(base)
    Files.createDirectories(st)
    Files.write(st.resolve("data"), content.getBytes)
    st
  }

  /** What a reader sees: (version, data, payload). */
  private def read(root: Path): (Long, String, Seq[String]) = {
    val s = VersionedDir.resolve(root)
    val data = if (s.version == 0L) "" else new String(Files.readAllBytes(s.path.resolve("data")))
    (s.version, data, s.payload)
  }

  private def names(d: Path): Seq[String] =
    if (!Files.isDirectory(d)) Nil
    else { val s = Files.list(d); try s.iterator().asScala.map(_.getFileName.toString).toList.sorted finally s.close() }

  private def snapshotDirs(root: Path): Seq[String] = names(root).filter(_.matches("v\\d+-[0-9a-f]{8}"))

  private def ageTemps(root: Path): Unit = {
    val old = FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000L)
    names(root).filter(n => n.startsWith(".") && n.endsWith(".tmp")).foreach { n =>
      val w = Files.walk(root.resolve(n))
      try w.iterator().asScala.foreach(Files.setLastModifiedTime(_, old)) finally w.close()
    }
  }

  test("a root with no log resolves to itself as version 0") {
    val root = newRoot()
    Files.createDirectories(root)
    val s = VersionedDir.resolve(root)
    assert(s.version == 0L && s.path == root && s.payload.isEmpty)
    assert(VersionedDir.resolveDir(root.toString + "/") == root.toString)
    val live = commit(root, "a")
    assert(live.version == 1L && live.name.startsWith("v1-"))
    assert(VersionedDir.resolveDir(root.toString) == root.resolve(live.name).toString)
    // idempotent: a snapshot dir has no log of its own
    assert(VersionedDir.resolveDir(VersionedDir.resolveDir(root.toString)) ==
      VersionedDir.resolveDir(root.toString))
    assert(read(root) == ((1L, "a", Seq("p-a"))))
  }

  test("failure after every step of commit and retention: whole old or whole new, then convergence") {
    // state before the commit under test: nine commits (the log holds the
    // newest eight), so this commit sweeps a log entry, the two-back
    // snapshot, a published orphan and a dead temp — every retention step
    def seeded(): Path = {
      val root = newRoot()
      (1 to 9).foreach(i => commit(root, s"s$i"))
      Files.createDirectories(root.resolve("v10-0badf00d"))
      Files.createDirectories(root.resolve(".v4-deadbeef.tmp"))
      ageTemps(root)
      root
    }
    val old = (9L, "s9", Seq("p-s9"))
    val fresh = (10L, "new", Seq("p-new"))

    // dry run: the full step sequence of one commit from the seeded state
    val steps = Seq.newBuilder[String]
    commit(seeded(), "new", steps += _)
    val all = steps.result()
    assert(Seq("published", "entry-written", "linked", "entry-temp-deleted", "log-synced",
      "log-swept", "snapshot-swept", "temp-swept").forall(all.contains), all)

    for (k <- all.indices) {
      val root = seeded()
      var n = 0
      val e = intercept[RuntimeException] {
        commit(root, "new", s => { if (n == k) throw new RuntimeException(s"kill@$s"); n += 1 })
      }
      val at = all(k)
      assert(e.getMessage == s"kill@$at")
      val committed = k >= all.indexOf("linked")
      assert(read(root) == (if (committed) fresh else old), s"kill@$at (step $k)")
      // the previous snapshot survives for readers one commit behind
      assert(new String(Files.readAllBytes(root.resolve(
        Files.readAllLines(root.resolve(VersionedDir.LogDir).resolve("9")).get(0))
        .resolve("data"))) == "s9", s"kill@$at")

      // the next commit converges with no repair step...
      val next = commit(root, "next")
      assert(next.version == (if (committed) 11L else 10L), s"kill@$at")
      assert(read(root)._2 == "next")
      // ...and once crash temps are demonstrably dead, one more commit
      // leaves exactly the live pair, no temps and a bounded log
      ageTemps(root)
      val last = commit(root, "last")
      assert(read(root) == ((last.version, "last", Seq("p-last"))))
      assert(snapshotDirs(root) == Seq(next.name, last.name).sorted, s"kill@$at")
      assert(!names(root).exists(_.endsWith(".tmp")), s"kill@$at: ${names(root)}")
      assert(names(root.resolve(VersionedDir.LogDir)).size == 8, s"kill@$at")
    }
  }

  test("two writers racing for one version: exactly one wins, the loser is refused whole") {
    val root = newRoot()
    commit(root, "s1")
    for (round <- 1 to 5) {
      val base = VersionedDir.resolve(root)
      // both writers pass the tip check, then race the exclusive link
      val barrier = new CyclicBarrier(2)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, String]]()
      val writers = (1 to 2).map { w =>
        val content = s"r$round-w$w"
        val st = staged(base, content)
        new Thread(() =>
          try {
            VersionedDir.commit(base, st, Nil,
              s => if (s == "entry-written") barrier.await(10, TimeUnit.SECONDS))
            outcomes.add(Right(content))
          } catch {
            case e: ConcurrentWriterException => outcomes.add(Left(e.getMessage))
            case e: Throwable => outcomes.add(Left(s"UNEXPECTED $e"))
          })
      }
      writers.foreach(_.start()); writers.foreach(_.join(30000))
      val (lost, won) = outcomes.asScala.toSeq.partition(_.isLeft)
      assert(won.size == 1 && lost.size == 1, s"round $round: $outcomes")
      assert(lost.head.swap.toOption.get.contains("lost the commit race"), outcomes)
      assert(read(root) == ((base.version + 1, won.head.toOption.get, Nil)), s"round $round")
    }
    // a writer whose base is no longer the tip is refused at the tip check
    val stale = VersionedDir.Snapshot(root, 1L, "", Nil)
    val e = intercept[ConcurrentWriterException] {
      VersionedDir.commit(stale, staged(stale, "stale"))
    }
    assert(e.getMessage.contains("another writer committed since"), e.getMessage)
    assert(read(root)._1 == 6L)
  }

  test("retention keeps the live pair and the newest log entries; a racer's snapshot above the tip survives") {
    val root = newRoot()
    (1 to 12).foreach(i => commit(root, s"s$i"))
    val log = names(root.resolve(VersionedDir.LogDir)).map(_.toLong).sorted
    assert(log == (5L to 12L), log)
    assert(snapshotDirs(root).map(_.takeWhile(_ != '-')) == Seq("v11", "v12"))
    // published by a racer that has not linked yet: never swept
    val racer = root.resolve("v14-abcdef12")
    Files.createDirectories(racer)
    // fresh temps may belong to live writers: never swept
    val live = VersionedDir.stage(VersionedDir.resolve(root))
    Files.createDirectories(live)
    commit(root, "s13")
    assert(Files.exists(racer) && Files.exists(live))
  }

  test("a reader grace keeps every snapshot superseded inside it and sweeps it after; " +
    "an orphan no entry names goes at once") {
    val root = newRoot()
    val hour = 3600 * 1000L
    (1 to 12).foreach(i => commit(root, s"s$i", graceMs = hour))
    val log = root.resolve(VersionedDir.LogDir)
    assert(names(log).map(_.toLong).sorted == (1L to 12L))
    assert(snapshotDirs(root).map(_.takeWhile(_ != '-')).sorted == (1 to 12).map(i => s"v$i").sorted)
    val v3 = root.resolve(snapshotDirs(root).find(_.startsWith("v3-")).get)
    assert(new String(Files.readAllBytes(v3.resolve("data"))) == "s3")
    // published, never linked: no entry names it, so no reader can hold it
    val orphan = root.resolve("v13-0badf00d")
    Files.createDirectories(orphan)
    // snapshots 1-9 were superseded (entries 2-10 written) an hour ago
    val old = FileTime.fromMillis(System.currentTimeMillis() - 2 * hour)
    (1 to 10).foreach(v => Files.setLastModifiedTime(log.resolve(v.toString), old))
    commit(root, "s13", graceMs = hour)
    assert(!Files.exists(orphan))
    assert(snapshotDirs(root).map(_.takeWhile(_ != '-')).sorted == Seq("v10", "v11", "v12", "v13"))
    assert(names(log).map(_.toLong).sorted == (6L to 13L))
    assert(read(root) == ((13L, "s13", Seq("p-s13"))))
  }
}
