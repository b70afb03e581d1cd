package graft.streaming

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

case class Doc(doc_id: Long, text: String)

/** Dedup at ingest: batch-2 documents are judged against batch-1's corpus
  * state, same-batch near-dups are caught too, replay is idempotent, the
  * registry probe is partition-pruned to the batch's touched buckets, and
  * verdicts agree with the batch LSH candidate semantics (same md5 band
  * signatures). */
class IncrementalDedupSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private val base = "alpha beta gamma delta epsilon zeta eta theta"
  private val other = "one two three four five six seven eight nine ten"

  private def run(batch: org.apache.spark.sql.DataFrame, reg: String) =
    IncrementalDedup.processBatch(batch, reg)
      .as[(Long, Boolean, Option[Long])].collect()
      .map { case (k, b, r) => k -> (b, r) }.toMap

  test("near-dup of an earlier batch is flagged with its representative") {
    val reg = tmp("graft_dedup_reg")
    val v1 = run(Seq(Doc(1L, base), Doc(2L, other)).toDF(), reg)
    assert(v1 == Map(1L -> (false, None), 2L -> (false, None)))

    // doc 10 shares almost all shingles with doc 1; doc 11 is fresh
    val b2 = Seq(Doc(10L, base + " iota"), Doc(11L, "totally different words here now ok")).toDF()
    val v2df = IncrementalDedup.processBatch(b2, reg)
    // corpus state never shuffles: the registry side must not exchange on
    // its bucket keys (the batch broadcasts instead)
    val probePlan = v2df.queryExecution.executedPlan.toString
    assert(probePlan.contains("BroadcastExchange"), probePlan)
    assert(!probePlan.contains("hashpartitioning(band") &&
      !probePlan.contains("hashpartitioning(minhash"), probePlan)
    val v2 = v2df.as[(Long, Boolean, Option[Long])].collect()
      .map { case (k, b, r) => k -> (b, r) }.toMap
    assert(v2(10L) == (true, Some(1L)), s"got $v2")
    assert(v2(11L) == (false, None))

    // replayed batch (at-least-once): verdicts are IDEMPOTENT — 11's own
    // first-play registry rows are excluded from its probe, so it stays
    // fresh rather than flipping to dup-of-itself (a consumer filtering on
    // is_dup must never lose a corpus's sole representative)
    val v2r = run(b2, reg)
    assert(v2r(10L) == (true, Some(1L)))
    assert(v2r(11L) == (false, None), s"got $v2r")
    // the replay re-appended identical rows; the min aggregate absorbs them,
    // so a LATER near-dup of 11 still resolves to representative 11
    val v3 = run(Seq(Doc(12L, "totally different words here now yes")).toDF(), reg)
    assert(v3(12L) == (true, Some(11L)), s"got $v3")
  }

  test("near-dups arriving in the SAME micro-batch are flagged against the smallest") {
    val reg = tmp("graft_dedup_intra")
    val v = run(Seq(Doc(20L, base), Doc(21L, base + " iota"), Doc(22L, other)).toDF(), reg)
    assert(v(20L) == (false, None), s"got $v")
    assert(v(21L) == (true, Some(20L)), s"got $v")
    assert(v(22L) == (false, None), s"got $v")
    // only fresh docs registered: 21's buckets stay out, so a later match
    // on the neighborhood is charged to representative 20
    val reps = IncrementalDedup.readRegistry(spark, reg)
      .select($"rep_doc_id").distinct().as[Long].collect().toSet
    assert(reps == Set(20L, 22L), s"got $reps")
    val v2 = run(Seq(Doc(30L, base)).toDF(), reg)
    assert(v2(30L) == (true, Some(20L)), s"got $v2")
  }

  test("registry probe never reads untouched (band, bucket) partitions") {
    val reg = tmp("graft_dedup_prune")
    run(Seq(Doc(1L, base), Doc(2L, other)).toDF(), reg)
    // poison a partition no batch can touch: bucket is the first minhash
    // byte, always in [0, 255], so bucket=999 is reachable only by a scan
    // that failed to prune
    val poison = java.nio.file.Paths.get(reg, "band=0", "bucket=999")
    Files.createDirectories(poison)
    Files.write(poison.resolve("part-junk.parquet"), "not parquet".getBytes)
    // the poison is potent: any scan touching it throws
    intercept[Exception] {
      IncrementalDedup.readRegistry(spark, reg)
        .filter(col("bucket") === 999).count()
    }
    // …but a batch's probe cycle (probe + verdicts + registry append) never
    // touches it: per-batch I/O is O(touched buckets), not O(registry)
    val v = run(Seq(Doc(10L, base + " iota"), Doc(11L, other + " eleven")).toDF(), reg)
    assert(v(10L) == (true, Some(1L)), s"got $v")
    assert(v(11L) == (true, Some(2L)), s"got $v")
  }

  test("bulk-seeded registry gates a batch exactly like incremental registration") {
    val reg = tmp("graft_dedup_seed")
    IncrementalDedup.seedRegistry(
      Seq(Doc(1L, base), Doc(2L, other)).toDF(), reg)
    val v = run(Seq(Doc(10L, base + " iota"), Doc(11L, "fresh unrelated words entirely")).toDF(), reg)
    assert(v(10L) == (true, Some(1L)), s"got $v")
    assert(v(11L) == (false, None), s"got $v")
  }

  test("registry compaction preserves probe semantics and partition layout") {
    // the append-only registry accrues one file set per batch; periodic
    // Maintenance compaction must keep (band, bucket) pruning and verdicts
    // intact (the ingest path's ops story, not just its hot path)
    val reg = tmp("graft_dedup_compact")
    run(Seq(Doc(1L, base), Doc(2L, other)).toDF(), reg)
    run(Seq(Doc(3L, "unrelated fresh words in this third document")).toDF(), reg)
    val before = IncrementalDedup.readRegistry(spark, reg).count()
    graft.queue.Maintenance.compactParquet(spark, reg,
      partitionCols = Seq("band", "bucket"))
    assert(IncrementalDedup.readRegistry(spark, reg).count() == before)
    val v = run(Seq(Doc(10L, base + " iota")).toDF(), reg)
    assert(v(10L) == (true, Some(1L)), s"got $v")
  }

  test("two-batch verdicts equal the batch LSH candidate semantics") {
    // A document is flagged iff it shares a (band, minhash) bucket with an
    // earlier-registered representative OR a smaller-id document of its own
    // batch, and its dup_of is the smallest such partner — exactly the batch
    // operator's candidate edge, scanned in (batch, id) order.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val vocab = Vector("red", "blue", "green", "ox", "hen", "fox", "elm",
      "oak", "ash", "tin", "zinc", "lead")
    val genDoc = Gen.listOfN(8, Gen.oneOf(vocab)).map(_.mkString(" "))
    val gen = Gen.listOfN(10, genDoc)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5),
      Prop.forAll(gen) { texts =>
        val docs = texts.zipWithIndex.map { case (t, i) => Doc(i.toLong, t) }
        val (b1, b2) = docs.splitAt(5)
        val reg = tmp("graft_dedup_prop")
        val v1 = run(b1.toDF(), reg)
        val v2 = run(b2.toDF(), reg)
        val sigs = graft.operators.Dedup
          .minhashSignatures(graft.operators.Dedup.shingles(docs.toDF()), bands = 4)
          .as[(Long, Int, String)].collect()
          .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).toSet).toMap
        def share(a: Long, b: Long): Boolean =
          sigs.getOrElse(a, Set.empty).intersect(sigs.getOrElse(b, Set.empty)).nonEmpty
        val b1Ok = b1.forall { d =>
          val partners = b1.map(_.doc_id).filter(o => o < d.doc_id && share(o, d.doc_id))
          v1(d.doc_id) == (partners.nonEmpty, partners.minOption)
        }
        val registered = b1.map(_.doc_id).filterNot(v1(_)._1)
        val b2Ok = b2.forall { d =>
          val partners = registered.filter(share(_, d.doc_id)) ++
            b2.map(_.doc_id).filter(o => o < d.doc_id && share(o, d.doc_id))
          v2(d.doc_id) == (partners.nonEmpty, partners.minOption)
        }
        b1Ok && b2Ok
      })
    assert(res.passed, res.status.toString)
  }

  test("legacy unpartitioned registry fails fast") {
    // A registry written by the pre-(band, bucket) format has data files at
    // the directory root. Read with the current explicit schema, every row
    // would get bucket = null and the (band, bucket) prune predicate would
    // silently drop ALL legacy rows — near-dups admitted with no error. The
    // reader must refuse it.
    val reg = tmp("graft_dedup_legacy")
    graft.operators.Dedup
      .minhashSignatures(graft.operators.Dedup.shingles(
        Seq(Doc(1L, base), Doc(2L, other)).toDF()), bands = 4)
      .select($"band", $"minhash", $"doc_id".as("rep_doc_id"))
      .write.mode("overwrite").parquet(reg) // unpartitioned = legacy layout
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.readRegistry(spark, reg)
    }
    assert(e.getMessage.contains("Rebuild the registry"), e.getMessage)
    // processBatch goes through readRegistry, so the gate refuses too rather
    // than silently admitting near-dups
    intercept[IllegalArgumentException] {
      IncrementalDedup.processBatch(Seq(Doc(10L, base + " iota")).toDF(), reg)
    }
  }

  test("streaming gate writes verdicts through foreachBatch") {
    val reg = tmp("graft_dedup_reg_s")
    val out = tmp("graft_dedup_out") + "/verdicts"
    val ms = MemoryStream[Doc]
    ms.addData(Doc(1L, base), Doc(2L, other))
    val q = IncrementalDedup.gate(ms.toDF(), reg, out)
      .option("checkpointLocation", tmp("graft_dedup_ckpt")).start()
    try {
      q.processAllAvailable()
      ms.addData(Doc(10L, base + " iota"))
      q.processAllAvailable()
      val verdicts = spark.read.parquet(out)
        .as[(Long, Boolean, Option[Long])].collect()
        .map { case (k, b, r) => k -> (b, r) }.toMap
      assert(verdicts(1L) == (false, None) && verdicts(2L) == (false, None))
      assert(verdicts(10L) == (true, Some(1L)))
    } finally q.stop()
  }

  test("in-gate compaction cadence bounds registry file count without changing verdicts") {
    def countFiles(dir: String): Int = {
      val it = Files.walk(java.nio.file.Paths.get(dir)).iterator()
      var n = 0
      while (it.hasNext) if (it.next().toString.endsWith(".parquet")) n += 1
      n
    }
    def drive(compactEvery: Int): (Map[Long, (Boolean, Option[Long])], Int) = {
      val reg = tmp(s"graft_dedup_cpt$compactEvery")
      val out = tmp(s"graft_dedup_cpt_out$compactEvery") + "/v"
      val ms = MemoryStream[Doc]
      val q = IncrementalDedup.gate(ms.toDF(), reg, out, compactEvery = compactEvery)
        .option("checkpointLocation", tmp("graft_dedup_cpt_ck")).start()
      try {
        // 4 micro-batches of fresh docs — 25 per batch, so (band, bucket)
        // partitions overlap across batches (256 buckets/band, 100 keys per
        // band by batch 4) and the append-only layout accrues multiple
        // files per partition; then one batch with a known near-dup
        for (b <- 0 until 4) {
          ms.addData((0 until 25).map { i =>
            val id = 100L + b * 25 + i
            // per-doc vocabulary: no shared shingles, every doc registers
            Doc(id, (1 to 8).map(w => s"tok${id}w$w").mkString(" "))
          }: _*)
          q.processAllAvailable()
        }
        ms.addData(Doc(200L, base), Doc(201L, base + " iota"))
        q.processAllAvailable()
        val v = spark.read.parquet(out)
          .as[(Long, Boolean, Option[Long])].collect()
          .map { case (k, bb, r) => k -> (bb, r) }.toMap
        (v, countFiles(reg))
      } finally q.stop()
    }
    val (vPlain, filesPlain) = drive(compactEvery = 0)
    val (vCompact, filesCompact) = drive(compactEvery = 2)
    assert(vPlain == vCompact, "compaction must not change verdicts")
    assert(vCompact(200L) == (false, None) && vCompact(201L) == (true, Some(200L)))
    // every batch appends one file per touched partition; the cadence
    // rewrites to one file per partition, so the compacted registry holds
    // strictly fewer files after the same ingest
    assert(filesCompact < filesPlain,
      s"expected compaction to bound files: plain=$filesPlain compacted=$filesCompact")
  }
}
