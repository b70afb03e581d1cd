package graft.queue

import java.nio.channels.FileChannel
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.nio.file.StandardOpenOption.{CREATE_NEW, READ, WRITE}

import scala.jdk.CollectionConverters._
import scala.util.DynamicVariable

/** Thrown to every writer that loses a race for a store: a commit whose base
  * is no longer the tip, a lost exclusive manifest link, or a lost
  * [[PendingStore]] writer lease. The loser's effects are unreferenced dirs
  * that the next commit's retention sweeps. */
final class ConcurrentWriterException(msg: String) extends IllegalStateException(msg)

/** The one versioned-directory commit protocol — the stand-in for the
  * Postgres MVCC commit the reference's queue rides on
  * (`cdc_webhook--1.0.sql:296-324`). The PENDING queue store, the IVF index
  * and the postings store all publish whole snapshots through it. Under a
  * root:
  *
  * {{{
  *   v<N>-<8 hex>/   snapshot N, published whole by one rename; the hex is
  *                   writer-unique, so racers never share a data path
  *   _log/<N>        manifest entry N: the snapshot dir name, then caller
  *                   payload lines. Published by one exclusive hard link —
  *                   the commit point. The live snapshot is the highest entry
  *   .<name>.tmp     in-flight stage dirs and entry temps
  * }}}
  *
  * A root with no `_log` entry resolves to itself as version 0, which
  * holds no layout: every store's first commit stages from nothing.
  * [[commit]]:
  *
  *   1. moves the caller's stage dir ([[stage]]) to `v<N+1>-<hex>` with one
  *      ATOMIC_MOVE;
  *   2. refuses unless `_log`'s tip is still the caller's base N;
  *   3. writes entry N+1 to a temp, fsyncs it, and publishes it with one
  *      exclusive `createLink`, then fsyncs `_log`;
  *   4. retention: keeps the new snapshot and its predecessor (the
  *      one-commit grace for in-flight readers), every snapshot superseded
  *      less than the caller's `graceMs` ago (a snapshot is superseded when
  *      its successor's entry is written, so that entry's mtime dates it),
  *      and the newest [[LogKeep]] entries plus those the grace needs;
  *      sweeps every other snapshot at or below N+1 and temps with no
  *      mtime progress for [[StaleTempMs]].
  *
  * Readers resolve once and read the resolved dir, so a commit racing them
  * is whole-old or whole-new. A crash at any step leaves the old or the new
  * state plus unreferenced dirs the next commit sweeps: there is no repair
  * step. The entry is fsynced before its link and `_log` after it, so the
  * commit point survives power loss; the snapshot's data files are as
  * durable as their writer and the filesystem make them.
  *
  * The IVF and postings stores mutate through [[commitNext]]: each
  * mutation stages its whole next layout, carrying untouched files from
  * the base by hard link ([[linkTree]]), and commits once.
  */
object VersionedDir {

  /** Snapshot `version` of `root`, with its dir `name` and the caller
    * payload lines of its manifest entry. Version 0 is the root itself. */
  final case class Snapshot(root: Path, version: Long, name: String, payload: Seq[String]) {
    def path: Path = if (version == 0L) root else root.resolve(name)
  }

  val LogDir = "_log"

  /** Log entries retention keeps beyond a grace's. A writer more than one
    * commit stale is refused by the tip check, so older entries serve only
    * inspection. */
  private val LogKeep = 8

  /** A temp whose tree saw no mtime progress this long has a dead writer. */
  private val StaleTempMs = 15 * 60 * 1000L

  private val SnapshotName = """v(\d+)-[0-9a-f]{8}""".r

  /** The live snapshot of `root`. Re-lists when the listed tip disappears
    * under a reader many commits stale; a reader still losing after that
    * gets the exception rather than a wrong version. */
  def resolve(root: Path): Snapshot = {
    def attempt(left: Int): Snapshot = logVersions(root).maxOption match {
      case None => Snapshot(root, 0L, "", Nil)
      case Some(v) =>
        try {
          val lines = Files.readAllLines(root.resolve(LogDir).resolve(v.toString))
            .asScala.map(_.trim).filter(_.nonEmpty).toSeq
          Snapshot(root, v, lines.head, lines.tail)
        } catch { case _: NoSuchFileException if left > 0 => attempt(left - 1) }
    }
    attempt(2)
  }

  /** The directory a reader of `dir` serves from: `dir` itself at version
    * 0, else `dir/v<N>-<hex>`. Idempotent, since a snapshot has no `_log`. */
  def resolveDir(dir: String): String = {
    val d = dir.stripSuffix("/")
    val s = resolve(Paths.get(d))
    if (s.version == 0L) d else s"$d/${s.name}"
  }

  /** A fresh stage dir (not yet created) for the snapshot after `base`.
    * Dot-prefixed, so Spark's file listing and [[PendingStore]]'s readers
    * never see it. */
  def stage(base: Snapshot): Path = {
    Files.createDirectories(base.root)
    base.root.resolve(s".v${base.version + 1}-${hex8()}.tmp")
  }

  /** Publish `stagePath` (from [[stage]]`(base)`, written completely) as
    * snapshot `base.version + 1` with manifest `payload`, then run
    * retention. Throws [[ConcurrentWriterException]] if another writer
    * committed since `base`. A store whose readers may outlive more than
    * one commit passes `graceMs`: a superseded snapshot survives retention
    * that long. `onStep` is the crash-test seam: it is called after every
    * filesystem step, outside any error handling. */
  def commit(base: Snapshot, stagePath: Path, payload: Seq[String] = Nil,
             onStep: String => Unit = _ => (), graceMs: Long = 0L): Snapshot = {
    val root = base.root
    val version = base.version + 1
    val name = stagePath.getFileName.toString.stripPrefix(".").stripSuffix(".tmp")
    require(stagePath.getParent == root && name.startsWith(s"v$version-"),
      s"$stagePath is not a stage dir for version $version of $root")
    Files.move(stagePath, root.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    onStep("published")
    val log = root.resolve(LogDir)
    Files.createDirectories(log)
    val tip = logVersions(root).maxOption.getOrElse(0L)
    if (tip != base.version)
      throw new ConcurrentWriterException(
        s"$root: commit refused — our base was version ${base.version} but the " +
          s"store is at $tip; another writer committed since")
    val tmp = root.resolve(s"._log.$version-${hex8()}.tmp")
    val ch = FileChannel.open(tmp, CREATE_NEW, WRITE)
    try { ch.write(java.nio.ByteBuffer.wrap((name +: payload).mkString("\n").getBytes)); ch.force(true) }
    finally ch.close()
    onStep("entry-written")
    try Files.createLink(log.resolve(version.toString), tmp)
    catch {
      case _: FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new ConcurrentWriterException(
          s"$root: lost the commit race for version $version — another " +
            "writer published that log entry first")
    }
    onStep("linked")
    quietly(Files.delete(tmp))
    onStep("entry-temp-deleted")
    quietly { val d = FileChannel.open(log, READ); try d.force(true) finally d.close() }
    onStep("log-synced")
    val live = Snapshot(root, version, name, payload)
    retain(live, base.name, graceMs, onStep)
    live
  }

  private def retain(live: Snapshot, prevName: String, graceMs: Long,
                     onStep: String => Unit): Unit = {
    val log = live.root.resolve(LogDir)
    val now = System.currentTimeMillis()
    val versions = logVersions(live.root).sorted
    // entry v+1 written inside the grace: snapshot v is still read
    def inGrace(v: Long): Boolean =
      graceMs > 0L && mtime(log.resolve((v + 1).toString)) >= now - graceMs
    val graced = versions.filter(inGrace).flatMap(v => entryName(log, v)).toSet
    versions.dropRight(LogKeep).filterNot(v => inGrace(v) || inGrace(v - 1)).foreach { v =>
      quietly(Files.deleteIfExists(log.resolve(v.toString)))
      onStep("log-swept")
    }
    val cutoff = now - StaleTempMs
    list(live.root).foreach { p =>
      p.getFileName.toString match {
        // a snapshot above the live version may be a racer's, between its
        // publish and its (doomed or winning) link: never swept here
        case n @ SnapshotName(v) if v.toLong <= live.version && n != live.name &&
            n != prevName && !graced(n) =>
          quietly(Maintenance.deleteRec(p))
          onStep("snapshot-swept")
        case n if n.startsWith(".") && n.endsWith(".tmp") && newestMtime(p) < cutoff =>
          quietly(Maintenance.deleteRec(p))
          onStep("temp-swept")
        case _ => ()
      }
    }
  }

  /** How long a snapshot superseded through [[commitNext]] stays readable:
    * a serve that resolved it before the commit, or a serve DataFrame
    * collected later, reads it whole for this long, across any number of
    * commits. */
  private[graft] val ReaderGraceMs = 15 * 60 * 1000L

  /** Crash-test seam: called after every step of a [[commitNext]] commit —
    * `staged`, then [[commit]]'s own steps. Scoped to the calling thread. */
  private[graft] val stepHook = new DynamicVariable[String => Unit](_ => ())

  /** One staging step of a [[commitNext]] mutation: it reads the layout at
    * `src` (the base snapshot, or the previous step's stage) and writes the
    * next one into the private dir `dst`. `linkable` is false only for a
    * store's first commit, whose version-0 base holds no layout. */
  private[graft] final case class Stage(src: String, dst: Path, linkable: Boolean) {
    /** Carry `src` into `dst` by hard link, except the subtrees `skip`
      * names by their path relative to `src`. */
    def carry(skip: String => Boolean): Unit =
      if (linkable) linkTree(Paths.get(src), dst, skip)
  }

  /** The one mutation skeleton of the snapshot stores: resolve the base
    * snapshot of `dir`, run `steps` — each stages a next layout from the
    * previous step's (the first from the base) and says whether it staged
    * anything — and [[commit]] the last staged layout ONCE, with
    * [[ReaderGraceMs]]. Nothing ever writes into a committed snapshot. A
    * step that throws leaves only stage dirs, which retention sweeps.
    * Returns the committed snapshot, None when no step staged anything. */
  private[graft] def commitNext(dir: String, payload: Seq[String] = Nil)
                               (steps: (Stage => Boolean)*): Option[Snapshot] = {
    val base = resolve(Paths.get(dir.stripSuffix("/")))
    // a version-0 base stages from nothing: anything visible in the root
    // but the log and crashed writers' snapshots is a flat layout no commit
    // would carry, so refuse rather than hide it
    require(base.version > 0L || list(base.root).forall { p =>
        val n = p.getFileName.toString
        n.startsWith(".") || n == LogDir || SnapshotName.matches(n)
      },
      s"store at $dir holds a flat layout from before snapshot commits " +
        "(data in its root, no _log) - rebuild the store from its corpus " +
        "on the current layout")
    val staged = steps.foldLeft(Option.empty[Path]) { (prev, step) =>
      val s = Stage(prev.fold(base.path.toString)(_.toString),
        stage(base), prev.isDefined || base.version > 0L)
      Files.createDirectories(s.dst)
      if (step(s)) { prev.foreach(Maintenance.deleteRec); Some(s.dst) }
      else { Maintenance.deleteRec(s.dst); prev }
    }
    val onStep = stepHook.value
    staged.map { d =>
      onStep("staged")
      commit(base, d, payload, onStep, ReaderGraceMs)
    }
  }

  /** Recreate `src` under `dst` with a HARD LINK per file (a copy where the
    * filesystem refuses links), skipping the subtrees `skip` names by
    * their path relative to the top `src`, and every `_SUCCESS` marker —
    * a writer appending beside carried files writes its own. Zero data
    * bytes move, and no carried file is ever written: a stage only adds
    * and removes whole files. */
  private[graft] def linkTree(src: Path, dst: Path, skip: String => Boolean,
                              rel: String = ""): Unit = {
    Files.createDirectories(dst)
    list(src).foreach { c =>
      val name = c.getFileName.toString
      val r = if (rel.isEmpty) name else s"$rel/$name"
      if (!skip(r) && name != "_SUCCESS" && name != "._SUCCESS.crc") {
        if (Files.isDirectory(c)) linkTree(c, dst.resolve(name), skip, r)
        else try Files.createLink(dst.resolve(name), c)
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(c, dst.resolve(name))
        }
      }
    }
  }

  /** The snapshot dir that log entry `v` names, if the entry is there. */
  private def entryName(log: Path, v: Long): Option[String] =
    try Files.readAllLines(log.resolve(v.toString)).asScala.headOption.map(_.trim)
    catch { case _: java.io.IOException => None }

  private def mtime(p: Path): Long =
    try Files.getLastModifiedTime(p).toMillis
    catch { case _: java.io.IOException => Long.MinValue }

  private def logVersions(root: Path): Seq[Long] =
    list(root.resolve(LogDir)).map(_.getFileName.toString)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)

  private def list(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d)
      try s.iterator().asScala.toList.sortBy(_.getFileName.toString) finally s.close()
    }

  /** Newest mtime in `p`'s tree; `Long.MaxValue` (never stale) when the
    * walk races a concurrent change. */
  private def newestMtime(p: Path): Long =
    try {
      val w = Files.walk(p)
      try w.mapToLong(f => Files.getLastModifiedTime(f).toMillis).max.orElse(0L)
      finally w.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => Long.MaxValue }

  private def quietly(f: => Unit): Unit =
    try f catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }

  private def hex8(): String = java.util.UUID.randomUUID().toString.take(8)
}
