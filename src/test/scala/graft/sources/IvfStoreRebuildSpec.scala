package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestSession
import graft.functions.GraftFunctions
import graft.operators.Similarity
import graft.queue.{ConcurrentWriterException, VersionedDir}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.typedLit
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The snapshot-commit contract of [[IvfIndexStore]]: every mutation —
  * build, rebuild, append, delete, leaf merge — is one
  * [[graft.queue.VersionedDir]] commit, so a reader hammering across them
  * sees whole committed states, never a torn mix; a crash at any commit
  * step leaves the whole old or the whole new store; a writer that loses
  * a race is refused rather than landing in a superseded snapshot; a
  * crashed or racing rebuild is never served; a flat layout is refused. */
class IvfStoreRebuildSpec extends AnyFunSuite with SparkTestSession
    with SnapshotCommitFixtures {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, dir)
  private lazy val qvec: Seq[Float] =
    emb.filter($"vec_id" === 0L).select($"embedding").as[Seq[Float]].head()

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_ivf_rebuild").toString

  private def version(d: String): Long = VersionedDir.resolve(Paths.get(d)).version

  /** Versions of the snapshot dirs present under `d`, committed or not. */
  private def snapshots(d: String): Set[Long] = {
    val s = Files.list(Paths.get(d))
    try {
      val b = Set.newBuilder[Long]
      s.forEach { p =>
        val n = p.getFileName.toString
        if (n.matches("v\\d+-[0-9a-f]{8}")) b += n.drop(1).takeWhile(_.isDigit).toLong
      }
      b.result()
    } finally s.close()
  }

  private def servedSet(store: String): Seq[(Long, Long)] =
    IvfIndexStore.topK(spark, store, qvec, k = 10, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Brute-force top-10 over `corpus`: what a full-probe serve of a store
    * holding exactly `corpus` returns. */
  private def brute(corpus: DataFrame): Seq[(Long, Long)] =
    corpus.select($"vec_id", Similarity.quantize(
        GraftFunctions.vecDot(spark, $"embedding", typedLit(qvec))).as("sim_q"))
      .orderBy($"sim_q".desc, $"vec_id").limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("retention keeps the live pair and every snapshot inside the grace") {
    val d = tmp()
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    IvfIndexStore.rebuild(emb.filter($"vec_id" < 400), d, nlist = 16)
    IvfIndexStore.rebuild(emb.filter($"vec_id" < 450), d, nlist = 16)
    assert(snapshots(d) == Set(1L, 2L, 3L), "inside the grace every snapshot stays")
    pastGrace(d)
    assert(IvfIndexStore.rebuild(emb, d, nlist = 16) == 4L)
    assert(snapshots(d) == Set(3L, 4L), snapshots(d))
  }

  test("a reader hammering across a live rebuild sees only whole-old or whole-new") {
    // back to back: two appends, a delete, a leaf merge and a rebuild;
    // every serve must succeed and equal one committed state's rows (a
    // full-probe serve is brute force over the store's corpus)
    val d = tmp()
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    val gone = Seq(3L, 305L, 420L)
    val states = Seq(emb.filter($"vec_id" < 300), emb.filter($"vec_id" < 400), emb,
      emb.filter(!$"vec_id".isin(gone: _*)), emb.filter($"vec_id" < 450))
      .map(brute).toSet
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val serves = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val got = servedSet(d)
          if (!states.contains(got)) failures.add(s"torn read: $got")
          serves.incrementAndGet()
        } catch { case e: Throwable => failures.add(e.toString) }
      }
    })
    reader.start()
    try {
      IvfIndexStore.appendBatch(emb.filter($"vec_id" >= 300 && $"vec_id" < 400), d, 0L)
      IvfIndexStore.appendBatch(emb.filter($"vec_id" >= 400), d, 1L)
      assert(IvfIndexStore.delete(spark, d, gone) == 3L)
      assert(IvfIndexStore.mergeLeaves(spark, d, maxBatches = 2))
      IvfIndexStore.rebuild(emb.filter($"vec_id" < 450), d, nlist = 16)
    } finally { stop = true; reader.join(120000) }
    assert(failures.isEmpty, failures.toArray.mkString("\n"))
    assert(serves.get() > 0)
    assert(servedSet(d) == brute(emb.filter($"vec_id" < 450)) && version(d) == 6L)
  }

  test("build() on a versioned root commits a fresh snapshot") {
    val d = tmp()
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    IvfIndexStore.rebuild(emb.filter($"vec_id" < 400), d, nlist = 16)
    // build stages from an empty base: nothing of the old corpus is carried
    IvfIndexStore.build(emb.filter($"vec_id" < 200), d, nlist = 16)
    assert(version(d) == 3L && servedSet(d) == brute(emb.filter($"vec_id" < 200)))
    IvfIndexStore.appendBatch(
      emb.filter($"vec_id" < 20).select(($"vec_id" + 9000L).as("vec_id"),
        $"embedding", $"label"), d, batchId = 0)
    assert(version(d) == 4L)
    assert(Files.walk(Paths.get(VersionedDir.resolveDir(d)))
      .anyMatch(p => p.toString.contains("ingest_batch=0")))
    val served = IvfIndexStore.topK(spark, d, qvec, k = 500, nprobe = 16)
      .select($"vec_id").as[Long].collect().toSet
    assert(served.exists(_ >= 9000L))
    assert(IvfIndexStore.delete(spark, d, Seq(9000L, 9001L)) == 2L)
    assert(version(d) == 5L)
    val after = IvfIndexStore.topK(spark, d, qvec, k = 500, nprobe = 16)
      .select($"vec_id").as[Long].collect().toSet
    assert(!after.contains(9000L) && !after.contains(9001L))
    // a delete that finds nothing commits nothing
    assert(IvfIndexStore.delete(spark, d, Seq(9000L)) == 0L && version(d) == 5L)
  }

  test("drift-driven rebuild: the q120 signal drives a zero-downtime re-center and the loop terminates") {
    import graft.operators.ProductQuantizer
    val d = tmp()
    val base = emb.filter($"vec_id" < 300)
    val cb = ProductQuantizer.train(base, m = 8, ksub = 16, iters = 0)
    IvfIndexStore.build(base, d, nlist = 16, pq = Some(cb))
    IvfIndexStore.appendBatch(emb.filter($"vec_id" >= 300), d, batchId = 0)
    // q120's deterministic drift fixture: magnitude-doubled copies
    val drifted = emb.filter($"vec_id" < 100)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        org.apache.spark.sql.functions.transform($"embedding",
          x => (x * org.apache.spark.sql.functions.lit(2.0f)).cast("float")).as("embedding"),
        $"label")
    IvfIndexStore.appendBatch(drifted, d, batchId = 1)
    val before = IvfIndexStore.qualityReport(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(before(1L)._2 && !before(0L)._2, s"fixture: $before")
    // the signal drives the remedy
    val v0 = version(d)
    val v = IvfIndexStore.rebuildIfDrifted(spark, d, trainIters = 2)
    assert(v.contains(v0 + 1) && version(d) == v0 + 1)
    // the rebuilt store is ONE bulk batch, nothing flagged, and the
    // retrained codebooks beat the stale ones on the drifted region
    val after = IvfIndexStore.qualityReport(spark, d).collect()
    assert(after.length == 1 && after.head.getLong(0) == -1L &&
      !after.head.getBoolean(3), after.mkString(", "))
    assert(after.head.getLong(2) < before(1L)._1,
      s"retrain did not improve the drifted region: ${after.head.getLong(2)} vs ${before(1L)._1}")
    // the corpus survived the flip intact (incl. the drifted appends)
    val v1 = VersionedDir.resolveDir(d)
    val n = spark.read.option("basePath", v1)
      .parquet(s"$v1/centroid_id=*").count()
    assert(n == emb.count() + 100)
    // loop terminates: a clean store rebuilds nothing
    assert(IvfIndexStore.rebuildIfDrifted(spark, d, trainIters = 2).isEmpty)
    assert(version(d) == v0 + 1)
  }

  test("full lifecycle: build -> append -> delete -> drift -> rebuild serves exactly the surviving corpus") {
    import graft.functions.GraftFunctions
    import graft.operators.ProductQuantizer
    val d = tmp()
    val base = emb.filter($"vec_id" < 300)
    IvfIndexStore.build(base, d, nlist = 16,
      pq = Some(ProductQuantizer.train(base, m = 8, ksub = 16, iters = 0)))
    IvfIndexStore.appendBatch(emb.filter($"vec_id" >= 300), d, batchId = 0)
    val gone = Seq(1L, 7L, 301L)
    assert(IvfIndexStore.delete(spark, d, gone) == 3L)
    val drifted = emb.filter($"vec_id" < 50)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        org.apache.spark.sql.functions.transform($"embedding",
          x => (x * org.apache.spark.sql.functions.lit(2.0f)).cast("float")).as("embedding"),
        $"label")
    IvfIndexStore.appendBatch(drifted, d, batchId = 1)
    val v0 = version(d)
    assert(IvfIndexStore.rebuildIfDrifted(spark, d, trainIters = 1).contains(v0 + 1))
    // full-probe serving from the rebuilt store ≡ brute force over
    // exactly the surviving corpus: appends present, deletions NOT
    // resurrected by the rebuild (it re-centered from the store's own
    // post-delete rows), drifted copies present
    val survivors = emb.filter(!$"vec_id".isin(gone: _*))
      .select($"vec_id", $"embedding")
      .unionByName(drifted.select($"vec_id", $"embedding"))
    val brute = survivors
      .select($"vec_id", graft.operators.Similarity.quantize(
        GraftFunctions.vecDot(spark, $"embedding",
          org.apache.spark.sql.functions.typedLit(qvec))).as("sim_q"))
      .orderBy($"sim_q".desc, $"vec_id").limit(15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val served = IvfIndexStore.topK(spark, d, qvec, k = 15, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == brute)
    assert(!served.exists(t => gone.contains(t._1)))
  }

  test("a crashed rebuild's complete snapshot is never served; the next rebuild replaces it") {
    val d = tmp()
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    val old = servedSet(d)
    // the crash: a rebuild published its complete snapshot, then died
    // before its manifest entry — un-commit a real rebuild to get exactly
    // that state
    IvfIndexStore.rebuild(emb.filter($"vec_id" < 400), d, nlist = 16)
    val crashed = servedSet(d)
    val crashedDir = VersionedDir.resolveDir(d)
    Files.delete(Paths.get(d, VersionedDir.LogDir, "2"))
    assert(version(d) == 1L && servedSet(d) == old)
    assert(Files.isDirectory(Paths.get(crashedDir)), "the crashed snapshot is still on disk")
    // the next rebuild targets the same version number: readers must serve
    // ITS corpus, not the crashed one
    assert(IvfIndexStore.rebuild(emb, d, nlist = 16) == 2L)
    val fresh = servedSet(d)
    assert(fresh == brute(emb) && fresh != crashed)
    assert(!Files.exists(Paths.get(crashedDir)), "retention sweeps the crashed snapshot")
  }

  /** A whole store holding `corpus`, staged for the snapshot after `base`
    * — a rebuild's stage, committed by the caller. */
  private def stagedStore(base: VersionedDir.Snapshot, corpus: DataFrame) = {
    val ref = tmp()
    IvfIndexStore.build(corpus, ref, nlist = 16)
    val stage = VersionedDir.stage(base)
    VersionedDir.linkTree(Paths.get(VersionedDir.resolveDir(ref)), stage, _ => false)
    stage
  }

  /** Run `op` on a store whose snapshot after the current one is committed
    * — a rebuild over `winner` — from inside `op`'s first Spark job over
    * the `touched` frame it builds with [[touch]]: after `op` resolved its
    * base, before it commits. */
  private def racedBy(d: String, winner: DataFrame)(op: (DataFrame => DataFrame) => Any): Unit = {
    val base = VersionedDir.resolve(Paths.get(d))
    val winnerStage = stagedStore(base, winner)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    IvfStoreRebuildSpec.onRow = () =>
      if (fired.compareAndSet(false, true)) VersionedDir.commit(base, winnerStage)
    val touch = org.apache.spark.sql.functions.udf { (v: Seq[Float]) =>
      IvfStoreRebuildSpec.onRow(); v
    }
    try intercept[ConcurrentWriterException] {
      op(_.withColumn("embedding", touch($"embedding")))
    } finally IvfStoreRebuildSpec.onRow = () => ()
    assert(fired.get, "the winner must have committed mid-write")
  }

  test("concurrent rebuilds: exactly one wins the manifest flip") {
    val d = tmp()
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    racedBy(d, emb.filter($"vec_id" < 400)) { touched =>
      IvfIndexStore.rebuild(touched(emb), d, nlist = 16)
    }
    // readers see the winner, whole
    assert(version(d) == 2L && servedSet(d) == brute(emb.filter($"vec_id" < 400)))
  }

  test("an append that loses the race to a rebuild is refused; the rebuild's corpus serves") {
    val d = tmp()
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    racedBy(d, emb.filter($"vec_id" < 400)) { touched =>
      IvfIndexStore.appendBatch(touched(emb.filter($"vec_id" >= 400)), d, batchId = 0)
    }
    assert(version(d) == 2L && servedSet(d) == brute(emb.filter($"vec_id" < 400)))
    // the refused append re-runs against the rebuilt store
    IvfIndexStore.appendBatch(emb.filter($"vec_id" >= 400), d, batchId = 0)
    assert(servedSet(d) == brute(emb))
  }

  test("every mutation refuses a flat layout from before snapshot commits, " +
    "leaving its data in place") {
    // a flat store: a snapshot's layout in the root itself, with no _log
    val built = tmp()
    IvfIndexStore.build(emb, built, nlist = 16)
    val d = tmp() + "/flat"
    VersionedDir.linkTree(Paths.get(VersionedDir.resolveDir(built)), Paths.get(d), _ => false)
    val old = servedSet(d)
    Seq[() => Any](
      () => IvfIndexStore.build(emb, d, nlist = 16),
      () => IvfIndexStore.rebuild(emb, d, nlist = 16),
      () => IvfIndexStore.appendBatch(emb.filter($"vec_id" < 5), d, batchId = 0),
      () => IvfIndexStore.delete(spark, d, Seq(3L)),
      () => IvfIndexStore.mergeLeaves(spark, d)).foreach { m =>
      val e = intercept[IllegalArgumentException](m())
      assert(e.getMessage.contains("flat layout"), e.getMessage)
    }
    assert(version(d) == 0L && servedSet(d) == old)
  }

  /** A store's whole committed state: its rows by (vec_id, batch), its
    * `_folded` registry, and a full-probe serve (which must succeed). */
  private def storeState(d: String) = {
    val root = VersionedDir.resolveDir(d)
    val folded = Paths.get(root, "_folded")
    (spark.read.parquet(root).select($"vec_id".cast("long"), $"ingest_batch".cast("long"))
      .as[(Long, Long)].collect().toSeq.sorted,
      if (Files.exists(folded)) Files.readAllLines(folded).asScala.map(_.toLong).toSeq
      else Seq.empty[Long],
      servedSet(d))
  }

  test("a crash after every commit step of appendBatch, delete, mergeLeaves " +
    "and rebuild leaves the whole old or the whole new store, and the " +
    "replay converges") {
    val batches = Seq(0L -> emb.filter($"vec_id" >= 300 && $"vec_id" < 400),
      1L -> emb.filter($"vec_id" >= 400 && $"vec_id" < 450),
      2L -> emb.filter($"vec_id" >= 450)).toMap
    // three commits before the one under test, so its retention sweeps one
    val seeded = tmp()
    IvfIndexStore.build(emb.filter($"vec_id" < 300), seeded, nlist = 16)
    IvfIndexStore.appendBatch(batches(0L), seeded, 0L)
    IvfIndexStore.appendBatch(batches(1L), seeded, 1L)
    val before = storeState(seeded)
    assert(before._1.size == 450)
    /** The state `op` commits on an uncrashed copy. */
    def afterOf(op: String => Any) = { val d = copyStore(seeded); op(d); storeState(d) }
    val crash = crashEveryStep(storeState) _
    // an append: its replay rewrites its own leaves, never doubles
    val append: String => Any = IvfIndexStore.appendBatch(batches(2L), _, 2L)
    val appended = afterOf(append)
    assert(appended._1.size == 500 && appended._1.map(_._1).distinct.size == 500)
    crash(seeded, before, append, appended, _ => ())
    // a delete over three batches: its replay finds nothing and commits nothing
    val delete: String => Any = IvfIndexStore.delete(spark, _, Seq(4L, 310L, 420L))
    val deleted = afterOf(delete)
    assert(deleted._1.size == 447)
    crash(seeded, before, delete, deleted, _ => ())
    // a leaf merge: a replayed folded batch is refused, whatever the crash
    val merge: String => Any = IvfIndexStore.mergeLeaves(spark, _, maxBatches = 2)
    val merged = afterOf(merge)
    assert(merged._1.map(_._1) == before._1.map(_._1) && merged._2.nonEmpty)
    crash(seeded, before, merge, merged, { d =>
      merged._2.filter(_ >= 0L).foreach { b =>
        val e = intercept[IllegalArgumentException](IvfIndexStore.appendBatch(batches(b), d, b))
        assert(e.getMessage.contains("already folded"), e.getMessage)
      }
    })
    // a rebuild over a different corpus
    val rebuild: String => Any = IvfIndexStore.rebuild(emb.filter($"vec_id" < 350), _, nlist = 16)
    val rebuilt = afterOf(rebuild)
    assert(rebuilt._3 == brute(emb.filter($"vec_id" < 350)))
    crash(seeded, before, rebuild, rebuilt, _ => ())
  }
}

object IvfStoreRebuildSpec {
  /** Called per row inside a rebuild's build job (local mode: same JVM). */
  @volatile var onRow: () => Unit = () => ()
}
