package graft.sources

import graft.SparkTestSession
import graft.operators.{ProductQuantizer, Similarity}
import graft.queue.VersionedDir
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The PQ face of [[IvfIndexStore]] — what q118's SQL gate cannot see:
  * that the ADC scan COLUMN-PRUNES past the raw vectors (the bytes-read
  * claim), that the rescore is a pushed point read rather than a probed-
  * list re-scan, that the persisted path equals the in-memory IVF-PQ
  * algebra exactly, and that appends to a PQ store carry codes encoded
  * against the FROZEN persisted codebook. */
class IvfPqStoreSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, dir)
  private lazy val cb = ProductQuantizer.train(emb, m = 8, ksub = 16, iters = 0)
  private lazy val store = {
    val d = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    IvfIndexStore.build(emb, d, nlist = 16, pq = Some(cb))
    d
  }
  private lazy val qvec: Seq[Float] = {
    import spark.implicits._
    emb.filter($"vec_id" === 0L).select($"embedding").as[Seq[Float]].head()
  }

  private def served = IvfIndexStore.adcTopK(
    spark, store, qvec, k = 10, nprobe = 2, refine = 4)

  test("store ADC serving equals the in-memory IVF-PQ path row for row") {
    val got = served.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ivfCb = IvfIndexStore.codebook(spark, store)
    val codes = ProductQuantizer.encode(emb, cb)
    val inMem = ProductQuantizer.ivfPqTopK(emb, codes, cb, ivfCb,
      queryId = 0L, k = 10, nprobe = 2, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == inMem)
  }

  test("persisted codes equal a fresh encode bit for bit") {
    import spark.implicits._
    val stored = spark.read.parquet(VersionedDir.resolveDir(store))
      .select($"vec_id".cast("long"), $"codes")
      .as[(Long, Seq[Int])].collect().toMap
    val fresh = ProductQuantizer.encode(emb, cb)
      .as[(Long, Seq[Int])].collect().toMap
    assert(stored == fresh)
  }

  test("the ADC scan column-prunes past the raw vectors") {
    // the ADC pass executes eagerly inside adcTopK (bounded candidate
    // collect), so its plan is pinned through the package-private frame
    val probes = IvfIndexStore.probeLists(spark, store, qvec, nprobe = 2)
    val plan = IvfIndexStore.adcCandidates(spark, store, qvec, probes, 40)
      .queryExecution.executedPlan.toString
    // ReadSchema must carry codes and NOT the vector column — the 32×
    // bytes-read claim is the LAYOUT's, visible in the plan, not prose
    val reads = "ReadSchema: [^\n]*".r.findAllIn(plan).toSeq
    assert(reads.nonEmpty, s"no scan in plan:\n$plan")
    reads.foreach { rs =>
      assert(rs.contains("codes"), s"ADC scan misses codes: $rs")
      assert(!rs.contains("embedding"), s"ADC scan reads raw vectors: $rs")
    }
    // and it prunes to the probed partitions
    val pfs = "PartitionFilters: \\[[^\\]]*".r.findAllIn(plan).toSeq
    assert(pfs.nonEmpty, plan)
    pfs.foreach { pf =>
      assert(pf.contains("centroid_id"), pf)
      probes.foreach(p => assert(pf.contains(p.toString), s"probe $p not in $pf"))
    }
  }

  test("the rescore prunes to the probed partitions and pushes the candidate ids") {
    val probes = IvfIndexStore.probeLists(spark, store, qvec, nprobe = 2)
    val plan = served.queryExecution.executedPlan.toString
    // the served frame IS the rescore stage: it reads embedding, not codes
    val reads = "ReadSchema: [^\n]*".r.findAllIn(plan).toSeq
    assert(reads.nonEmpty && reads.forall(_.contains("embedding")), plan)
    reads.foreach(rs => assert(!rs.contains("codes"), rs))
    val pfs = "PartitionFilters: \\[[^\\]]*".r.findAllIn(plan).toSeq
    assert(pfs.nonEmpty, plan)
    pfs.foreach { pf =>
      assert(pf.contains("centroid_id"), pf)
      probes.foreach(p => assert(pf.contains(p.toString), s"probe $p not in $pf"))
    }
    // the rescore's vec_id IN (...) reaches parquet as a pushed filter —
    // the wide column is a point read over ≤ refine·k ids, never a
    // probed-list re-scan
    val pushed = "PushedFilters: \\[[^\\]]*".r.findAllIn(plan).toSeq
    assert(pushed.exists(_.contains("In(vec_id")),
      s"no pushed candidate-id filter:\n${pushed.mkString("\n")}")
  }

  test("a store built without PQ refuses ADC serving loudly") {
    val d = java.nio.file.Files.createTempDirectory("graft_ivfnopq").toString
    IvfIndexStore.build(emb, d, nlist = 16)
    val e = intercept[IllegalArgumentException] {
      IvfIndexStore.adcTopK(spark, d, qvec, k = 10)
    }
    assert(e.getMessage.contains("_pq_codebook"))
  }

  test("appends to a PQ store carry frozen-codebook codes; replay never doubles") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfpqsink").toString
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16, pq = Some(cb))
    val batch = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
    IvfIndexStore.appendBatch(batch, d, batchId = 3)
    // appended rows carry codes equal to a fresh encode of the batch
    val stored = spark.read.parquet(VersionedDir.resolveDir(d))
      .filter(col("ingest_batch") === 3L)
      .select($"vec_id".cast("long"), $"codes")
      .as[(Long, Seq[Int])].collect().toMap
    val fresh = ProductQuantizer.encode(batch, cb)
      .as[(Long, Seq[Int])].collect().toMap
    assert(stored == fresh)
    // crash-replay rewrites, never doubles — and serving still works
    val n1 = spark.read.parquet(VersionedDir.resolveDir(d)).count()
    IvfIndexStore.appendBatch(batch, d, batchId = 3)
    assert(spark.read.parquet(VersionedDir.resolveDir(d)).count() == n1)
    // a grown PQ store serves exactly what a one-shot build would
    IvfIndexStore.appendBatch(emb.filter($"vec_id" >= 400), d, batchId = 4)
    val grown = IvfIndexStore.adcTopK(spark, d, qvec, k = 10, nprobe = 2, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val oneShot = served.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(grown == oneShot)
  }

  test("batched ADC serving equals per-query ADC serving row for row") {
    import spark.implicits._
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val got = IvfIndexStore.adcTopKBatch(spark, store, queries, k = 10,
      nprobe = 2, refine = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val single = (0L until 5L).flatMap { qid =>
      val qv = emb.filter($"vec_id" === qid).select($"embedding").as[Seq[Float]].head()
      IvfIndexStore.adcTopK(spark, store, qv, k = 10, nprobe = 2, refine = 4)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1, r.getLong(0), r.getLong(1)) }
    }.toSet
    assert(got == single)
  }

  test("the batch codes stage column-prunes and scans only the probed union") {
    import spark.implicits._
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val plan = IvfIndexStore.adcBatchCandidates(spark, store, queries,
      limit = 40, nprobe = 2)
      .queryExecution.executedPlan.toString
    // the ONE store scan in the stage reads codes, never the wide column
    val reads = "ReadSchema: [^\n]*".r.findAllIn(plan).toSeq
      .filter(_.contains("codes"))
    assert(reads.nonEmpty, s"no codes scan in plan:\n$plan")
    reads.foreach(rs =>
      assert(!rs.contains("embedding"), s"batch ADC scan reads raw vectors: $rs"))
    // partition filter = the probed union, nothing beyond it
    val expected = (0L until 5L).flatMap { qid =>
      val qv = emb.filter($"vec_id" === qid).select($"embedding").as[Seq[Float]].head()
      IvfIndexStore.probeLists(spark, store, qv, nprobe = 2)
    }.toSet
    val pfStart = plan.indexOf("PartitionFilters: [centroid_id")
    assert(pfStart >= 0, plan)
    val pf = plan.substring(pfStart, plan.indexOf("]", pfStart) max (pfStart + 1))
    val inFilter = "\\b\\d+\\b".r.findAllIn(pf.replaceAll("#\\d+", "")).map(_.toLong).toSet
    assert(inFilter == expected, s"filter lists $inFilter, probes $expected")
  }

  test("qualityReport flags a magnitude-drifted append and only that") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfpqdrift").toString
    val base = emb.filter($"vec_id" < 300)
    val cbBase = ProductQuantizer.train(base, m = 8, ksub = 16, iters = 0)
    IvfIndexStore.build(base, d, nlist = 16, pq = Some(cbBase))
    IvfIndexStore.appendBatch(emb.filter($"vec_id" >= 300), d, batchId = 0)
    val drifted = emb.filter($"vec_id" < 100)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        org.apache.spark.sql.functions.transform($"embedding",
          x => (x * org.apache.spark.sql.functions.lit(2.0f)).cast("float"))
          .as("embedding"), $"label")
    IvfIndexStore.appendBatch(drifted, d, batchId = 1)
    val rpt = IvfIndexStore.qualityReport(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rpt.map(_._1).toSeq == Seq(-1L, 0L, 1L))
    val byBatch = rpt.map(t => t._1 -> t).toMap
    assert(!byBatch(-1L)._4 && !byBatch(0L)._4,
      s"in-distribution batches must not flag: $rpt")
    assert(byBatch(1L)._4, s"the x2-scaled batch must flag: $rpt")
    // replay of the drifted append leaves the report bit-identical
    IvfIndexStore.appendBatch(drifted, d, batchId = 1)
    val rpt2 = IvfIndexStore.qualityReport(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rpt2.toSeq == rpt.toSeq)
  }

  test("reconstruction error evaluates the STORED code: a corrupted code raises it") {
    import spark.implicits._
    val sample = emb.filter($"vec_id" < 50)
    val coded = ProductQuantizer.encode(sample, cb)
      .join(sample, "vec_id")
    val okErr = coded.select(org.apache.spark.sql.functions.sum(
      ProductQuantizer.reconstructionErrCol(spark, cb)).as("e"))
      .head().getLong(0)
    assert(okErr >= 0)
    // rotate every code by one — the error against wrong codes must grow
    val corrupted = coded.withColumn("codes",
      org.apache.spark.sql.functions.transform($"codes",
        c => (c + 1) % cb.ksub))
    val badErr = corrupted.select(org.apache.spark.sql.functions.sum(
      ProductQuantizer.reconstructionErrCol(spark, cb)).as("e"))
      .head().getLong(0)
    assert(badErr > okErr,
      s"corrupted codes must raise the error: ok=$okErr bad=$badErr")
  }

  test("streaming sink on a PQ store appends codes per micro-batch; grown serves like one-shot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = java.nio.file.Files.createTempDirectory("graft_ivfpqstream").toString
    IvfIndexStore.build(emb.filter($"vec_id" < 300), d, nlist = 16, pq = Some(cb))
    val tail = emb.filter($"vec_id" >= 300)
      .select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], Int)].collect().toSeq
    val ms = MemoryStream[(Long, Seq[Float], Int)]
    val q = IvfIndexStore.sink(ms.toDF().toDF("vec_id", "embedding", "label"), d)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ivfpq_ck").toString)
      .start()
    val (h, t) = tail.splitAt(tail.size / 2)
    ms.addData(h: _*); q.processAllAvailable()
    ms.addData(t: _*); q.processAllAvailable()
    q.stop()
    // every appended row carries codes equal to a fresh encode
    import org.apache.spark.sql.functions.col
    val streamed = spark.read.parquet(VersionedDir.resolveDir(d)).filter(col("ingest_batch") >= 0L)
    assert(streamed.count() == tail.size)
    assert(streamed.filter(col("codes").isNull).count() == 0)
    // and the grown store ADC-serves exactly what the one-shot build does
    val grown = IvfIndexStore.adcTopK(spark, d, qvec, k = 10, nprobe = 2, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val oneShot = served.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(grown == oneShot)
  }

  test("codebook round-trips through the persisted relation exactly") {
    val loaded = IvfIndexStore.pqCodebook(spark, store)
    assert(loaded.m == cb.m && loaded.ksub == cb.ksub && loaded.subDim == cb.subDim)
    for (s <- 0 until cb.m; c <- 0 until cb.ksub)
      assert(loaded.cents(s)(c).sameElements(cb.cents(s)(c)), s"sub=$s code=$c")
  }

  test("wide-probe full-refine ADC serving recovers exact brute force") {
    import spark.implicits._
    val n = emb.count().toInt
    val got = IvfIndexStore.adcTopK(spark, store, qvec, k = 10,
      nprobe = 16, refine = n).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val brute = Similarity.topK(emb, queryId = 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == brute)
  }

  test("delete on a PQ store: ADC single, ADC batch, and qualityReport never see a deleted id") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfpqdel").toString
    IvfIndexStore.build(emb, d, nlist = 16, pq = Some(cb))
    // delete the current wide-probe full-refine top-2 ids: the strongest
    // possible probes — if a stale leaf or code survives, the old winners
    // resurface at the top immediately
    val n = emb.count().toInt
    val top = IvfIndexStore.adcTopK(spark, d, qvec, k = 2, nprobe = 16,
      refine = n).select($"vec_id").as[Long].collect().toSeq
    val removed = IvfIndexStore.delete(spark, d, top)
    assert(removed == top.length.toLong)
    val after = IvfIndexStore.adcTopK(spark, d, qvec, k = 10, nprobe = 16,
      refine = n).select($"vec_id").as[Long].collect().toSet
    assert(after.intersect(top.toSet).isEmpty && after.nonEmpty)
    // the deleted ids were exactly the head of the ranking: the new head
    // is brute force over the remaining corpus (scored directly — vec 0
    // itself may be among the deletions, so no corpus self-lookup)
    val brute = emb.filter(!$"vec_id".isin(top: _*))
      .select($"vec_id", Similarity.quantize(
        graft.functions.GraftFunctions.vecDot(spark, $"embedding",
          org.apache.spark.sql.functions.typedLit(qvec))).as("sim_q"))
      .orderBy($"sim_q".desc, $"vec_id").limit(10)
      .select($"vec_id").as[Long].collect().toSet
    assert(after == brute)
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val batchIds = IvfIndexStore.adcTopKBatch(spark, d, queries, k = 10,
      nprobe = 16, refine = n)
      .select($"vec_id").as[Long].collect().toSet
    assert(batchIds.intersect(top.toSet).isEmpty)
    // the drift report's per-batch counts drop by exactly the deletions
    val nVecs = IvfIndexStore.qualityReport(spark, d)
      .select($"n_vecs").as[Long].collect().sum
    assert(nVecs == emb.count() - top.length)
  }
}
