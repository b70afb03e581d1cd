package graft.sources

import graft.SparkTestSession
import graft.operators.Similarity
import graft.queue.VersionedDir
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** [[IvfIndexStore]]'s layout contract — what q112's SQL gate cannot see:
  * that the serving read actually PRUNES to the probed lists (the whole
  * point of persisting the index), that the store equals the in-memory
  * probe path exactly, and that the codebook subdir stays invisible to
  * list discovery. */
class IvfIndexStoreSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, dir)
  private lazy val store = {
    val d = java.nio.file.Files.createTempDirectory("graft_ivfstore").toString
    IvfIndexStore.build(emb, d, nlist = 16)
    d
  }
  private lazy val qvec: Seq[Float] = {
    import spark.implicits._
    emb.filter($"vec_id" === 0L).select($"embedding").as[Seq[Float]].head()
  }

  test("served top-k equals the in-memory probe path row for row") {
    val served = IvfIndexStore.topK(spark, store, qvec, k = 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val inMem = Similarity.ivfTopK(emb, queryId = 0L, k = 10,
      nlist = 16, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == inMem)
  }

  test("the serving scan prunes to the probed partitions") {
    val probes = IvfIndexStore.probeLists(spark, store, qvec, nprobe = 2)
    assert(probes.length == 2 && probes.toSet.size == 2)
    val plan = IvfIndexStore.topK(spark, store, qvec, k = 10, nprobe = 2)
      .queryExecution.executedPlan.toString
    // the probe ids must land as LITERALS in the scan's partition filter —
    // checked INSIDE the "PartitionFilters: [...]" segment (a bare
    // plan.contains(p) is vacuous for small-int ids that appear anywhere
    // in an executed-plan string)
    val pfStart = plan.indexOf("PartitionFilters: [")
    assert(pfStart >= 0 && plan.startsWith("PartitionFilters: [centroid_id", pfStart), plan)
    val pf = plan.substring(pfStart, plan.indexOf("]", pfStart) max (pfStart + 1))
    probes.foreach(p => assert(pf.contains(p.toString), s"probe $p not in $pf"))
    // and the probed read returns rows from exactly those lists
    val listed = spark.read.parquet(VersionedDir.resolveDir(store))
      .filter(col("centroid_id").isin(probes: _*))
      .select(col("centroid_id")).distinct()
      .collect().map(_.getAs[Number]("centroid_id").longValue()).toSet
    assert(listed == probes.toSet)
  }

  test("batched serving equals per-query serving row for row") {
    import spark.implicits._
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val got = IvfIndexStore.topKBatch(spark, store, queries, k = 10, nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val single = (0L until 5L).flatMap { qid =>
      val qv = emb.filter($"vec_id" === qid).select($"embedding").as[Seq[Float]].head()
      IvfIndexStore.topK(spark, store, qv, k = 10, nprobe = 2)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1, r.getLong(0), r.getLong(1)) }
    }.toSet
    assert(got == single)
  }

  test("batched scan's partition filter is the union of the queries' probes") {
    import spark.implicits._
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val expected = (0L until 5L).flatMap { qid =>
      val qv = emb.filter($"vec_id" === qid).select($"embedding").as[Seq[Float]].head()
      IvfIndexStore.probeLists(spark, store, qv, nprobe = 2)
    }.toSet
    assert(expected.size <= 10) // ≤ |batch|·nprobe by construction
    val plan = IvfIndexStore.topKBatch(spark, store, queries, k = 10, nprobe = 2)
      .queryExecution.executedPlan.toString
    val pfStart = plan.indexOf("PartitionFilters: [")
    assert(pfStart >= 0 && plan.startsWith("PartitionFilters: [centroid_id", pfStart), plan)
    val pf = plan.substring(pfStart, plan.indexOf("]", pfStart) max (pfStart + 1))
    // every probed list is in the filter, and nothing beyond the union is:
    // the in-filter literal count equals the probed-union size (≤ batch·nprobe)
    expected.foreach(p => assert(pf.contains(p.toString), s"probe $p not in $pf"))
    // strip attribute expression ids (centroid_id#123) before extracting
    // literals, so only the IN-list values remain
    val inFilter = "\\b\\d+\\b".r.findAllIn(pf.replaceAll("#\\d+", "")).map(_.toLong).toSet
    assert(inFilter == expected, s"filter lists $inFilter, probes $expected")
  }

  private def parquetFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles.toSeq.flatMap(parquetFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty

  test("codebook: 16 rows, hidden from list discovery, lists cover the corpus") {
    assert(IvfIndexStore.codebook(spark, store).count() == 16)
    val lists = spark.read.parquet(VersionedDir.resolveDir(store))
    // _codebook must not surface as data or break partition discovery;
    // every input column (label, the filtered-ANN metadata) rides the lists
    assert(lists.columns.toSet ==
      Set("vec_id", "embedding", "label", "centroid_id", "ingest_batch"))
    assert(lists.count() == emb.count())
    // one directory per non-empty list, each bounded to one task's files
    val listDirs = new java.io.File(VersionedDir.resolveDir(store)).listFiles
      .filter(_.getName.startsWith("centroid_id=")).toSeq
    assert(listDirs.nonEmpty && listDirs.size <= 16)
    listDirs.foreach { d =>
      assert(parquetFiles(d).size == 1, s"${d.getName}: one file per list")
    }
  }

  test("sink: appended batches serve identically to a one-shot bulk build") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfsink").toString
    val base = emb.filter($"vec_id" < 300)
    IvfIndexStore.build(base, d, nlist = 16)
    IvfIndexStore.appendBatch(
      emb.filter($"vec_id" >= 300 && $"vec_id" < 400), d, batchId = 0)
    IvfIndexStore.appendBatch(emb.filter($"vec_id" >= 400), d, batchId = 1)
    assert(spark.read.parquet(VersionedDir.resolveDir(d)).count() == emb.count())
    val grown = IvfIndexStore.topK(spark, d, qvec, k = 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // one-shot build over everything, same codebook (vec_id < 16 ⊂ base)
    val oneShot = java.nio.file.Files.createTempDirectory("graft_ivfone").toString
    IvfIndexStore.build(emb, oneShot, nlist = 16)
    val bulk = IvfIndexStore.topK(spark, oneShot, qvec, k = 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(grown == bulk,
      "a grown store must serve exactly what a rebuild would")
  }

  test("sink: an at-least-once replay rewrites its partitions, never doubles") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfreplay").toString
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    val batch = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
    IvfIndexStore.appendBatch(batch, d, batchId = 7)
    val n1 = spark.read.parquet(VersionedDir.resolveDir(d)).count()
    IvfIndexStore.appendBatch(batch, d, batchId = 7) // crash-replay
    assert(spark.read.parquet(VersionedDir.resolveDir(d)).count() == n1)
  }

  test("sink: dim-drifted vectors abort instead of corrupting a list") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfdrift").toString
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    val drifted = Seq((9001L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      IvfIndexStore.appendBatch(drifted, d, batchId = 0)
    }
    assert(e.getMessage.contains("mismatched"))
    // nothing was appended
    assert(!spark.read.parquet(VersionedDir.resolveDir(d)).filter($"vec_id" === 9001L).collect().nonEmpty)
  }

  test("filtered serving: predicate pushes to the probed scan; full probe = filtered brute force") {
    import graft.functions.GraftFunctions
    import spark.implicits._
    // the metadata predicate lands in PushedFilters BESIDE the partition
    // probe literals — no post-serve join, no unfiltered scan
    val probes = IvfIndexStore.probeLists(spark, store, qvec, nprobe = 4)
    val df = IvfIndexStore.topK(spark, store, qvec, k = 10, nprobe = 4,
      where = Some(col("label") === 3))
    val plan = df.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*".r.findAllIn(plan).toSeq
    assert(pushed.exists(_.contains("EqualTo(label,3)")),
      s"label filter not pushed:\n${pushed.mkString("\n")}")
    val pfStart = plan.indexOf("PartitionFilters: [centroid_id")
    assert(pfStart >= 0, plan)
    val pf = plan.substring(pfStart, plan.indexOf("]", pfStart) max (pfStart + 1))
    probes.foreach(p => assert(pf.contains(p.toString), s"probe $p not in $pf"))
    // the over-probe endpoint: nprobe = nlist recovers exact brute force
    // over the FILTERED corpus
    val full = IvfIndexStore.topK(spark, store, qvec, k = 10, nprobe = 16,
      where = Some(col("label") === 3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val brute = emb.filter($"label" === 3)
      .select($"vec_id", graft.operators.Similarity.quantize(
        GraftFunctions.vecDot(spark, $"embedding",
          org.apache.spark.sql.functions.typedLit(qvec))).as("sim_q"))
      .orderBy($"sim_q".desc, $"vec_id").limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == brute)
    // and every served row actually satisfies the predicate
    val servedIds = full.map(_._1).toSet
    val okIds = emb.filter($"label" === 3)
      .select($"vec_id").as[Long].collect().toSet
    assert(servedIds.subsetOf(okIds))
  }

  test("append with a drifted column set aborts instead of mixing layouts") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfcoldrift").toString
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16)
    // batch missing the label column the build carried
    val stripped = emb.filter($"vec_id" >= 300 && $"vec_id" < 320)
      .select($"vec_id", $"embedding")
    val e = intercept[IllegalArgumentException] {
      IvfIndexStore.appendBatch(stripped, d, batchId = 0)
    }
    assert(e.getMessage.contains("drift"))
    assert(spark.read.parquet(VersionedDir.resolveDir(d)).filter(col("ingest_batch") >= 0L).count() == 0)
  }

  test("delete: ids vanish from single and batched serving; untouched leaves keep their files; idempotent") {
    import graft.functions.GraftFunctions
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfdel").toString
    IvfIndexStore.build(emb, d, nlist = 16)
    IvfIndexStore.appendBatch(
      emb.filter($"vec_id" < 50).select(($"vec_id" + 5000L).as("vec_id"),
        $"embedding", $"label"), d, batchId = 0)
    def leafFiles(): Map[String, Set[String]] = {
      val root = java.nio.file.Paths.get(VersionedDir.resolveDir(d))
      val out = scala.collection.mutable.Map.empty[String, Set[String]]
      java.nio.file.Files.walk(root).forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet") &&
            !p.getFileName.toString.startsWith(".")) {
          val leaf = root.relativize(p.getParent).toString
          out(leaf) = out.getOrElse(leaf, Set.empty) + p.getFileName.toString
        }
      }
      out.toMap
    }
    val before = leafFiles()
    // ids spanning the bulk build (batch -1) and the append (batch 0)
    val ids = Seq(3L, 8L, 13L, 5003L, 5008L)
    val affectedLeaves = spark.read.parquet(VersionedDir.resolveDir(d))
      .filter($"vec_id".isin(ids: _*))
      .select($"centroid_id".cast("long"), $"ingest_batch".cast("long"))
      .distinct().collect()
      .map(r => s"centroid_id=${r.getLong(0)}/ingest_batch=${r.getLong(1)}").toSet
    val n = IvfIndexStore.delete(spark, d, ids)
    assert(n == ids.length.toLong)
    val after = leafFiles()
    // only the affected leaves changed
    (before.keySet ++ after.keySet).foreach { leaf =>
      if (affectedLeaves.contains(leaf))
        assert(before(leaf) != after.getOrElse(leaf, Set.empty), s"leaf $leaf not rewritten")
      else assert(before.get(leaf) == after.get(leaf), s"untouched leaf $leaf changed")
    }
    // full-probe serving ≡ brute force over the REMAINING corpus
    val remaining = spark.read.parquet(VersionedDir.resolveDir(d))
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val served = IvfIndexStore.topK(spark, d, qvec, k = 20, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val brute = remaining
      .select($"vec_id", graft.operators.Similarity.quantize(
        GraftFunctions.vecDot(spark, $"embedding",
          org.apache.spark.sql.functions.typedLit(qvec))).as("sim_q"))
      .orderBy($"sim_q".desc, $"vec_id").limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == brute)
    assert(!served.exists(t => ids.contains(t._1)))
    // batched serving excludes them too
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val batchIds = IvfIndexStore.topKBatch(spark, d, queries, k = 20, nprobe = 16)
      .select($"vec_id").as[Long].collect().toSet
    assert(batchIds.intersect(ids.toSet).isEmpty)
    // idempotent: nothing left to delete
    assert(IvfIndexStore.delete(spark, d, ids) == 0L)
  }

  test("delete: a fully-emptied leaf is removed and its list serves the rest") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfdel2").toString
    IvfIndexStore.build(emb, d, nlist = 16)
    // empty one whole list (centroid partition) of the bulk build
    val probes = IvfIndexStore.probeLists(spark, d, qvec, nprobe = 1)
    val listId = probes.head
    val listIds = spark.read.parquet(VersionedDir.resolveDir(d))
      .filter($"centroid_id" === listId)
      .select($"vec_id".cast("long")).as[Long].collect().toSeq
    assert(listIds.nonEmpty)
    assert(IvfIndexStore.delete(spark, d, listIds) == listIds.length.toLong)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(VersionedDir.resolveDir(d), s"centroid_id=$listId", "ingest_batch=-1")))
    // the probed serve of that list returns nothing, and wider serving
    // still answers from the surviving lists
    assert(IvfIndexStore.topK(spark, d, qvec, k = 10, nprobe = 1).count() == 0)
    val wide = IvfIndexStore.topK(spark, d, qvec, k = 10, nprobe = 16)
      .select($"vec_id").as[Long].collect().toSet
    assert(wide.nonEmpty && wide.intersect(listIds.toSet).isEmpty)
  }

  test("adaptive over-probe: selective predicate escalates to filtered brute force; ample predicate stops at the first nprobe") {
    import graft.functions.GraftFunctions
    import spark.implicits._
    // < k matches anywhere: the loop must reach nprobe = nlist, whose
    // serving is exactly brute force over the filtered corpus
    val selective = col("label") === 3 && col("vec_id") < 40
    val got = IvfIndexStore.topKAdaptive(spark, store, qvec, k = 10,
      where = selective, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val brute = emb.filter($"label" === 3 && $"vec_id" < 40)
      .select($"vec_id", graft.operators.Similarity.quantize(
        GraftFunctions.vecDot(spark, $"embedding",
          org.apache.spark.sql.functions.typedLit(qvec))).as("sim_q"))
      .orderBy($"sim_q".desc, $"vec_id").limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == brute && got.nonEmpty && got.length < 10)
    // ample matches in the first probe window: the loop must NOT widen —
    // its answer is exactly the static topK at the starting nprobe
    val ample = col("label") >= 0
    val adaptive = IvfIndexStore.topKAdaptive(spark, store, qvec, k = 10,
      where = ample, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val static2 = IvfIndexStore.topK(spark, store, qvec, k = 10, nprobe = 2,
      where = Some(ample))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(adaptive == static2 && adaptive.length == 10)
  }

  test("layoutFor keys on (sfDir, nlist) and skips the rewrite on reuse") {
    val base = IvfIndexStore.layoutFor(spark, dir, emb, nlist = 16)
    val snap0 = VersionedDir.resolveDir(base)
    assert(IvfIndexStore.layoutFor(spark, dir, emb, nlist = 16) == base)
    assert(VersionedDir.resolveDir(base) == snap0)
    assert(IvfIndexStore.layoutFor(spark, dir, emb, nlist = 8) != base)
  }

  // ---- r20: leveled leaf merge ----

  private def batchLeafCount(d: String): (Int, Int) = {
    // (distinct batch ids, max leaves under any one list)
    def kids(p: java.nio.file.Path, pre: String): Seq[java.nio.file.Path] = {
      if (!java.nio.file.Files.exists(p)) return Nil
      val s = java.nio.file.Files.list(p)
      try {
        val b = Seq.newBuilder[java.nio.file.Path]
        val it = s.iterator()
        while (it.hasNext) {
          val c = it.next()
          if (c.getFileName.toString.startsWith(pre)) b += c
        }
        b.result()
      } finally s.close()
    }
    val cents = kids(java.nio.file.Paths.get(VersionedDir.resolveDir(d)), "centroid_id=")
    val perList = cents.map(c => kids(c, "ingest_batch="))
    (perList.flatten.map(_.getFileName.toString).distinct.size,
      if (perList.isEmpty) 0 else perList.map(_.size).max)
  }

  test("mergeLeaves folds the smallest batches content-neutrally: " +
    "single/batched serving identical, leaf count bounded across a " +
    "many-append ingest, folded replays refused") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfmerge").toString
    IvfIndexStore.build(emb.filter($"vec_id" < 100), d, nlist = 16)
    (0 to 9).foreach(b => IvfIndexStore.appendBatch(
      emb.filter($"vec_id" >= 100 && $"vec_id" % 10 === b), d, b.toLong))
    def serveAll() = {
      val single = IvfIndexStore.topK(spark, d, qvec, k = 10, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val queries = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      val batched = IvfIndexStore.topKBatch(spark, d, queries, k = 10, nprobe = 2)
        .collect().toSeq.map(_.toString).sorted
      (single, batched)
    }
    val before = serveAll()
    val (nBefore, _) = batchLeafCount(d)
    assert(nBefore == 11, s"fixture: $nBefore batches")
    assert(!IvfIndexStore.mergeLeaves(spark, d, maxBatches = 16),
      "below the cap must be a no-op")
    assert(IvfIndexStore.mergeLeaves(spark, d, maxBatches = 4))
    val (nAfter, maxLeaves) = batchLeafCount(d)
    assert(nAfter == 4 && maxLeaves <= 4, s"$nAfter batches, $maxLeaves leaves")
    assert(serveAll() == before, "the merge moved a result")
    // the store content is row-for-row identical to a bulk build's serve
    val inMem = Similarity.ivfTopK(emb, queryId = 0L, k = 10,
      nlist = 16, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(before._1 == inMem)
    // folded batches refuse replay (their rows live in the merged leaf);
    // kept batches replay idempotently
    val refused = (0 to 9).count { b =>
      scala.util.Try(IvfIndexStore.appendBatch(
        emb.filter($"vec_id" >= 100 && $"vec_id" % 10 === b),
        d, b.toLong)).isFailure
    }
    assert(refused == 8, s"expected 8 folded-replay refusals, got $refused")
    assert(serveAll() == before, "a kept-batch replay drifted serving")
    // leveling under a CONTINUING ingest (fresh shifted ids per batch):
    // merge-per-append holds the batch count - and with it the per-list
    // leaf/file count every probed scan pays - at the cap forever
    (10 to 17).foreach { b =>
      val fresh = emb.filter($"vec_id" < 30).select(
        ($"vec_id" + lit(1000000L * b)).as("vec_id"),
        $"embedding", $"label")
      IvfIndexStore.appendBatch(fresh, d, b.toLong)
      IvfIndexStore.mergeLeaves(spark, d, maxBatches = 4)
      val (n, leaves) = batchLeafCount(d)
      assert(n <= 4 && leaves <= 4, s"batch $b: $n batches, $leaves leaves")
    }
  }

  test("mergeLeaves levels a PQ store too: ADC serving identical across " +
    "the fold") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfmerge_pq").toString
    val base = emb.filter($"vec_id" < 100)
    val cb = graft.operators.ProductQuantizer.train(base, m = 8, ksub = 16, iters = 0)
    IvfIndexStore.build(base, d, nlist = 16, pq = Some(cb))
    (0 to 7).foreach(b => IvfIndexStore.appendBatch(
      emb.filter($"vec_id" >= 100 && $"vec_id" % 8 === b), d, b.toLong))
    val before = IvfIndexStore.adcTopK(spark, d, qvec, k = 10, nprobe = 2,
      refine = 4).collect().map(_.toString).toSeq
    assert(IvfIndexStore.mergeLeaves(spark, d, maxBatches = 3))
    val after = IvfIndexStore.adcTopK(spark, d, qvec, k = 10, nprobe = 2,
      refine = 4).collect().map(_.toString).toSeq
    assert(after == before && before.nonEmpty)
  }

  test("delete runs as many Spark jobs for 8 touched leaves as for 2") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfdeljobs").toString
    IvfIndexStore.build(emb, d, nlist = 16)
    // one id from each of 10 lists: every leaf of a bulk build is one list
    val byList = spark.read.parquet(VersionedDir.resolveDir(d))
      .groupBy($"centroid_id").agg(org.apache.spark.sql.functions.min($"vec_id"))
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    assert(byList.size >= 10, s"fixture: ${byList.size} lists")
    val (twoJobs, two) = jobsOf(IvfIndexStore.delete(spark, d, byList.take(2)))
    val (eightJobs, eight) = jobsOf(IvfIndexStore.delete(spark, d, byList.slice(2, 10)))
    assert(two == 2L && eight == 8L)
    assert(twoJobs == eightJobs,
      s"$twoJobs jobs for 2 touched leaves, $eightJobs for 8")
  }

  test("prefixed reads pass their partition dirs: Spark logs no glob-probe WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // Spark is up, with its logging configured, before the capture starts
    val root = VersionedDir.resolveDir(store)
    val schema = spark.read.parquet(root).schema
    // the logger context Spark's own classes log through
    val logger = LogManager.getContext(classOf[SparkSession].getClassLoader, false)
      .asInstanceOf[LoggerContext]
      .getLogger("org.apache.spark.sql.execution.streaming.sinks.FileStreamSink")
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("glob-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = warns.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try {
      assert(graft.streaming.RegistryIO.readOrEmpty(spark, root, schema,
        Some("centroid_id=")).count() == emb.count())
      assert(IvfIndexStore.topK(spark, store, qvec, k = 10, nprobe = 2).collect().nonEmpty)
    } finally {
      logger.setLevel(level)
      logger.removeAppender(appender)
      appender.stop()
    }
    assert(warns.isEmpty, warns.toArray.mkString("\n"))
  }
}
