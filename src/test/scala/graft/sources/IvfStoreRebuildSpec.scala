package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestSession
import graft.queue.{ConcurrentWriterException, VersionedDir}
import org.scalatest.funsuite.AnyFunSuite

/** Blue/green rebuild contract ([[IvfIndexStore.rebuild]]): a reader
  * hammering across a live rebuild sees whole-store-before or
  * whole-store-after, never a torn mix; the flip is one
  * [[graft.queue.VersionedDir]] commit; retention keeps exactly one
  * superseded version; flat stores adopt versioning transparently; a
  * crashed or racing rebuild is never served. */
class IvfStoreRebuildSpec extends AnyFunSuite with SparkTestSession {
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

  test("legacy flat store adopts versioning at first rebuild; readers flip to the new corpus") {
    val d = tmp()
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    assert(version(d) == 0L && VersionedDir.resolveDir(d) == d)
    val old = servedSet(d)
    assert(IvfIndexStore.rebuild(emb, d, nlist = 16) == 1L)
    assert(version(d) == 1L)
    val fresh = servedSet(d)
    assert(fresh != old)
    // the superseded flat layout survives one generation for in-flight
    // readers...
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(d))
      .anyMatch(p => p.getFileName.toString.startsWith("centroid_id=")))
    // ...and a parallel fresh build equals the flipped serving exactly
    val ref = tmp()
    IvfIndexStore.build(emb, ref, nlist = 16)
    assert(fresh == servedSet(ref))
  }

  test("retention: the second flip GCs the legacy flat leaves, the third GCs v1") {
    val d = tmp()
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    IvfIndexStore.rebuild(emb.filter($"vec_id" < 400), d, nlist = 16)
    IvfIndexStore.rebuild(emb.filter($"vec_id" < 450), d, nlist = 16)
    assert(!Files.list(Paths.get(d))
      .anyMatch(p => p.getFileName.toString.startsWith("centroid_id=")))
    assert(snapshots(d) == Set(1L, 2L), snapshots(d))
    IvfIndexStore.rebuild(emb, d, nlist = 16)
    assert(snapshots(d) == Set(2L, 3L), snapshots(d))
    assert(version(d) == 3L)
  }

  test("a reader hammering across a live rebuild sees only whole-old or whole-new") {
    val d = tmp()
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    val old = servedSet(d)
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Long)]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reader = new Thread(() => {
      try while (!stop.get()) observed.add(servedSet(d))
      catch { case t: Throwable => failed.set(t) }
    })
    reader.start()
    try IvfIndexStore.rebuild(emb, d, nlist = 16)
    finally { stop.set(true); reader.join(120000) }
    assert(failed.get() == null, s"reader died mid-rebuild: ${failed.get()}")
    val fresh = servedSet(d)
    assert(fresh != old)
    val distinct = { val it = observed.iterator(); val b = Set.newBuilder[Seq[(Long, Long)]]
      while (it.hasNext) b += it.next(); b.result() }
    assert(distinct.nonEmpty && distinct.subsetOf(Set(old, fresh)),
      s"torn reads: ${distinct.size} distinct outcomes, expected subset of {old, fresh}")
  }

  test("build() on a version-managed root refuses; appends and deletes land in the current version") {
    val d = tmp()
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    IvfIndexStore.rebuild(emb.filter($"vec_id" < 400), d, nlist = 16)
    val e = intercept[IllegalArgumentException] {
      IvfIndexStore.build(emb, d, nlist = 16)
    }
    assert(e.getMessage.contains("rebuild()"))
    // append into the versioned store: files land under v1, serving sees them
    IvfIndexStore.appendBatch(
      emb.filter($"vec_id" < 20).select(($"vec_id" + 9000L).as("vec_id"),
        $"embedding", $"label"), d, batchId = 0)
    assert(version(d) == 1L)
    assert(Files.walk(Paths.get(VersionedDir.resolveDir(d)))
      .anyMatch(p => p.toString.contains("ingest_batch=0")))
    val served = IvfIndexStore.topK(spark, d, qvec, k = 500, nprobe = 16)
      .select($"vec_id").as[Long].collect().toSet
    assert(served.exists(_ >= 9000L))
    // delete from the versioned store
    assert(IvfIndexStore.delete(spark, d, Seq(9000L, 9001L)) == 2L)
    val after = IvfIndexStore.topK(spark, d, qvec, k = 500, nprobe = 16)
      .select($"vec_id").as[Long].collect().toSet
    assert(!after.contains(9000L) && !after.contains(9001L))
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
    val v = IvfIndexStore.rebuildIfDrifted(spark, d, trainIters = 2)
    assert(v.contains(1L) && version(d) == 1L)
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
    assert(version(d) == 1L)
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
    assert(IvfIndexStore.rebuildIfDrifted(spark, d, trainIters = 1).contains(1L))
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
    val flat = servedSet(d)
    // the crash: a rebuild published its complete snapshot, then died
    // before its manifest entry — un-commit a real rebuild to get exactly
    // that state
    IvfIndexStore.rebuild(emb.filter($"vec_id" < 400), d, nlist = 16)
    val crashed = servedSet(d)
    Files.delete(Paths.get(d, VersionedDir.LogDir, "1"))
    assert(version(d) == 0L && servedSet(d) == flat)
    assert(snapshots(d) == Set(1L), "the crashed snapshot is still on disk")
    // the next rebuild targets the same version number: readers must serve
    // ITS corpus, not the crashed one
    assert(IvfIndexStore.rebuild(emb, d, nlist = 16) == 1L)
    val fresh = servedSet(d)
    val ref = tmp()
    IvfIndexStore.build(emb, ref, nlist = 16)
    assert(fresh == servedSet(ref) && fresh != crashed)
    assert(snapshots(d) == Set(1L), "retention sweeps the crashed snapshot")
  }

  test("concurrent rebuilds: exactly one wins the manifest flip") {
    val d = tmp()
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    // the winner: a complete store staged beside the live one, committed
    // from inside the loser's build job — after the loser resolved its
    // base, before it commits
    val base = VersionedDir.resolve(Paths.get(d))
    val winnerStage = VersionedDir.stage(base)
    IvfIndexStore.build(emb.filter($"vec_id" < 400), winnerStage.toString, nlist = 16)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    IvfStoreRebuildSpec.onRow = () =>
      if (fired.compareAndSet(false, true)) VersionedDir.commit(base, winnerStage)
    val touch = org.apache.spark.sql.functions.udf { (v: Seq[Float]) =>
      IvfStoreRebuildSpec.onRow(); v
    }
    val loser = emb.withColumn("embedding", touch($"embedding"))
    try intercept[ConcurrentWriterException] {
      IvfIndexStore.rebuild(loser, d, nlist = 16)
    } finally IvfStoreRebuildSpec.onRow = () => ()
    assert(fired.get, "the winner must have committed mid-rebuild")
    // readers see the winner, whole
    assert(version(d) == 1L)
    val ref = tmp()
    IvfIndexStore.build(emb.filter($"vec_id" < 400), ref, nlist = 16)
    assert(servedSet(d) == servedSet(ref))
  }
}

object IvfStoreRebuildSpec {
  /** Called per row inside a rebuild's build job (local mode: same JVM). */
  @volatile var onRow: () => Unit = () => ()
}
