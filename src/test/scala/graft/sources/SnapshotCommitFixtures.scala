package graft.sources

import java.nio.file.{Files, Path, Paths}

import graft.queue.VersionedDir
import org.scalatest.Assertions

/** Crash points and dated copies for the specs of the stores that commit
  * through [[VersionedDir.commitNext]]. */
trait SnapshotCommitFixtures extends Assertions {

  private final class Crash(step: String) extends RuntimeException(s"crash after $step")

  /** Run `op` with a simulated crash right after step number `at` (0-based)
    * of its commit — `staged`, then VersionedDir's steps — or with no
    * crash when `at` is None. Returns the steps the commit reported. */
  def stepsOf(at: Option[Int])(op: => Any): Seq[String] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val hook: String => Unit = { st =>
      seen += st
      if (at.contains(seen.size - 1)) throw new Crash(st)
    }
    try VersionedDir.stepHook.withValue(hook)(op)
    catch { case _: Crash => () }
    seen.toSeq
  }

  /** Date every commit of `d` a day back, past the reader grace, so the
    * next commit's retention sweeps every snapshot but the live pair. */
  def pastGrace(d: String): Unit = {
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 24 * 3600 * 1000L)
    val s = Files.list(Paths.get(d, VersionedDir.LogDir))
    try s.iterator().forEachRemaining(Files.setLastModifiedTime(_, old))
    finally s.close()
  }

  /** Copy a store (every snapshot, its log) to a fresh path, its commits
    * dated [[pastGrace]]. */
  def copyStore(from: String): String = {
    val to = Files.createTempDirectory("graft_store_copy").toString + "/store"
    val src = Paths.get(from)
    Files.walk(src).iterator().asInstanceOf[java.util.Iterator[Path]]
      .forEachRemaining { p =>
        val dst = Paths.get(to).resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else Files.copy(p, dst)
      }
    pastGrace(to)
    to
  }

  /** The steps of one commit over a store with two earlier commits:
    * `staged`, then [[VersionedDir.commit]]'s, whose retention sweeps the
    * oldest snapshot. */
  val commitSteps = Seq("staged", "published", "entry-written",
    "linked", "entry-temp-deleted", "log-synced", "snapshot-swept")

  /** Crash `op` after every step of its commit, each on a fresh copy of
    * the store `seeded` (whose `state` is `before`): the store must read
    * as the whole old state before the commit point (`linked`) and the
    * whole new state `after` from it on, and running `op` again — the
    * replay or retry — must converge to `after`; `replayed` then checks
    * the converged copy further. The crash points run on threads of their
    * own at once (the step hook is thread-scoped). */
  def crashEveryStep[S](state: String => S)(seeded: String, before: S,
                                            op: String => Any, after: S,
                                            replayed: String => Unit = _ => ()): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(commitSteps.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try commitSteps.indices.map { i =>
      Future {
        val d = copyStore(seeded)
        assert(stepsOf(Some(i))(op(d)) == commitSteps.take(i + 1))
        val committed = i >= commitSteps.indexOf("linked")
        assert(state(d) == (if (committed) after else before),
          s"crash after ${commitSteps(i)}: not the whole " +
            (if (committed) "new" else "old") + " state")
        op(d)
        assert(state(d) == after,
          s"replay after a crash at ${commitSteps(i)} diverged")
        replayed(d)
      }
    }.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
    finally pool.shutdown()
  }
}
