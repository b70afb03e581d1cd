package graft.streaming

import java.nio.file.Files

import graft.SparkTestSession
import graft.queries.SharedStages.ContainmentMaxDf
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Containment at ingest: the quote-in-large-doc pair is caught against
  * CORPUS HISTORY (cross-batch), a single batch over a corpus equals the
  * batch q113 algebra exactly, replay is idempotent, and the registry
  * probe is partition-pruned to the batch's touched buckets. */
class IncrementalContainmentSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  // 12 unique tokens → 10 trigram shingles, all contained in bigDoc
  private val quote = (1 to 12).map(i => s"q$i").mkString(" ")
  private def filler(tag: String, k: Int) = (1 to k).map(i => s"$tag$i").mkString(" ")
  private val bigDoc = quote + " " + filler("y", 60)

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet

  test("cross-batch quote-in-large-doc pair is flagged against history") {
    val reg = tmp("graft_cont_reg")
    val v1 = IncrementalContainment.processBatch(
      Seq(Doc(1L, quote), Doc(2L, filler("x", 40))).toDF(), reg)
    assert(v1.collect().isEmpty) // disjoint docs: nothing flagged
    val v2 = pairs(IncrementalContainment.processBatch(
      Seq(Doc(10L, bigDoc)).toDF(), reg))
    // doc 1's whole shingle set (10 trigrams) sits inside doc 10, whose
    // own set is far larger: cont_a = 1.0 while Jaccard ≈ 0.14 — the
    // shape Jaccard-LSH dedup systematically misses
    assert(v2.size == 1, s"got $v2")
    val (a, b, nInter, sizeA, _, contA, contB) = v2.head
    assert(a == 1L && b == 10L && nInter == 10L && sizeA == 10L)
    assert(contA == 1000000L && contB < 600000L, s"got $v2")

    // replay (at-least-once): identical verdicts, because the redelivered
    // doc's first-play registry rows collapse with its batch rows in the
    // partners distinct
    val v2r = pairs(IncrementalContainment.processBatch(
      Seq(Doc(10L, bigDoc)).toDF(), reg))
    assert(v2r == v2)

    // a later exact copy of the quote pairs with BOTH carriers: the
    // contained doc and the container that registered despite its flag
    // (novel shingles must be "seen")
    val v3 = pairs(IncrementalContainment.processBatch(
      Seq(Doc(20L, quote)).toDF(), reg))
    assert(v3.map(t => (t._1, t._2)) == Set((1L, 20L), (10L, 20L)), s"got $v3")
    val both = v3.find(t => t._1 == 1L && t._2 == 20L).get
    assert(both._6 == 1000000L && both._7 == 1000000L, s"got $both")
  }

  test("near-containment arriving in the SAME micro-batch is flagged too") {
    val reg = tmp("graft_cont_intra")
    val v = pairs(IncrementalContainment.processBatch(
      Seq(Doc(30L, quote), Doc(31L, bigDoc), Doc(32L, filler("z", 30))).toDF(), reg))
    assert(v.map(t => (t._1, t._2)) == Set((30L, 31L)), s"got $v")
  }

  test("a single batch over a corpus equals the batch q113 algebra exactly") {
    val reg = tmp("graft_cont_eq")
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      // the synthetic corpus lacks organic containment pairs (DedupSpec's
      // reason for the constructed case) — append one so the pin bites
      .unionByName(Seq(Doc(900001L, quote), Doc(900002L, bigDoc)).toDF())
    val got = pairs(IncrementalContainment.processBatch(corpus, reg))
    // q113's exact algebra (LlmQueries.containmentDedup) over the same docs
    val dsh = Dedup.shingles(corpus).distinct()
    val want = pairs(Dedup.containmentVerify(
        Dedup.rareShingleCandidates(dsh, maxDf = ContainmentMaxDf, preDistincted = true),
        dsh, preDistincted = true)
      .filter(greatest($"cont_a_ppm", $"cont_b_ppm") >= 600000L)
      .select($"doc_a", $"doc_b", $"n_inter", $"size_a", $"size_b",
        $"cont_a_ppm", $"cont_b_ppm"))
    assert(want.nonEmpty && got == want,
      s"gate=${got.size} batch=${want.size} diff=${(got diff want) ++ (want diff got)}")
  }

  test("registry probe never reads untouched bucket partitions") {
    val reg = tmp("graft_cont_prune")
    IncrementalContainment.processBatch(Seq(Doc(1L, quote)).toDF(), reg)
    // bucket is the fingerprint's first hex byte, always in [0, 255]
    val poison = java.nio.file.Paths.get(reg, "bucket=999")
    Files.createDirectories(poison)
    Files.write(poison.resolve("part-junk.parquet"), "not parquet".getBytes)
    intercept[Exception] {
      IncrementalContainment.readRegistry(spark, reg)
        .filter(col("bucket") === 999).count()
    }
    // the probe cycle (probe + verify + registration) never touches it
    val v = pairs(IncrementalContainment.processBatch(
      Seq(Doc(10L, bigDoc)).toDF(), reg))
    assert(v.map(t => (t._1, t._2)) == Set((1L, 10L)), s"got $v")
  }

  test("bulk-seeded registry gates a batch exactly like incremental registration") {
    val reg = tmp("graft_cont_seed")
    IncrementalContainment.seedRegistry(
      Seq(Doc(1L, quote), Doc(2L, filler("x", 40))).toDF(), reg)
    val v = pairs(IncrementalContainment.processBatch(
      Seq(Doc(10L, bigDoc)).toDF(), reg))
    assert(v.map(t => (t._1, t._2)) == Set((1L, 10L)), s"got $v")
  }

  test("df cap: a pair whose every shared shingle is corpus-common is not generated") {
    val reg = tmp("graft_cont_df")
    // ContainmentMaxDf + 1 carriers push every quote shingle's df past the cap …
    val carriers = (0 to ContainmentMaxDf).map(i => Doc(100L + i, quote + " " + filler(s"c$i", 20)))
    IncrementalContainment.processBatch(carriers.toDF(), reg, maxDf = ContainmentMaxDf)
    // … so a 10th arrival shares only over-cap shingles with history:
    // boilerplate by definition, excluded exactly like the batch operator
    val v = IncrementalContainment.processBatch(
      Seq(Doc(200L, quote + " " + filler("w", 20))).toDF(), reg, maxDf = ContainmentMaxDf)
    assert(v.collect().isEmpty)
  }

  test("key probe pushes In(shingle_md5, ...) to parquet — eq leaves, not a range") {
    val reg = tmp("graft_cont_push")
    IncrementalContainment.seedRegistry(
      Seq(Doc(1L, quote), Doc(2L, filler("x", 40))).toDF(), reg)
    // 40 keys: past the 10-value default threshold (which would rewrite
    // the pushed filter to a useless md5 min/max range), inside the
    // operator's scoped raise
    val keys = (1 to 40).map(i => f"${i}%032x")
    IncrementalContainment.withInPushdown(spark, 2048) {
      val plan = IncrementalContainment
        .keyProbe(IncrementalContainment.readRegistry(spark, reg), keys)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [In(shingle_md5"),
        s"pushed In missing from scan:\n$plan")
      // partition pruning rides beside it: the driver-derived buckets
      assert(plan.contains("PartitionFilters"), plan)
    }
    // and the probe is exactly the join it replaced: same historical rows
    val bsh = Seq(Doc(10L, bigDoc)).toDF()
    val realKeys = Dedup.shingles(bsh).select(md5($"shingle")).distinct()
      .as[String].collect().toSeq
    val viaFilter = IncrementalContainment
      .keyProbe(IncrementalContainment.readRegistry(spark, reg), realKeys)
      .select($"shingle_md5", $"doc_id", $"set_size").collect().toSet
    val viaJoin = IncrementalContainment.readRegistry(spark, reg)
      .join(realKeys.toDF("shingle_md5"), Seq("shingle_md5"))
      .select($"shingle_md5", $"doc_id", $"set_size").collect().toSet
    assert(viaFilter == viaJoin && viaFilter.nonEmpty)
  }

  test("registry files are sorted by shingle_md5 within each bucket file") {
    val reg = tmp("graft_cont_sorted")
    IncrementalContainment.seedRegistry(
      graft.Tables.documents(spark, "/root/testdata/sf0.001")
        .select($"doc_id", $"text").limit(50), reg)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(reg))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var checked = 0
    files.forEachRemaining { f =>
      val ks = spark.read.parquet(f.toString)
        .select($"shingle_md5").as[String].collect().toSeq
      assert(ks == ks.sorted, s"unsorted keys in $f")
      checked += 1
    }
    assert(checked > 0)
  }

  test("deleteDocs: an erased document never pairs again and the sorted layout survives") {
    val reg = tmp("graft_cont_erase")
    IncrementalContainment.processBatch(
      Seq(Doc(1L, quote), Doc(2L, filler("x", 40))).toDF(), reg)
    // control: a new carrier of the quote pairs against doc 1
    val ctl = pairs(IncrementalContainment.processBatch(
      Seq(Doc(20L, bigDoc)).toDF(), reg))
    assert(ctl.map(t => (t._1, t._2)) == Set((1L, 20L)))
    // erase docs 1 and 20 (the quote's only carriers)
    val removed = IncrementalContainment.deleteDocs(spark, reg, Seq(1L, 20L))
    assert(removed > 0L)
    assert(IncrementalContainment.readRegistry(spark, reg)
      .filter($"doc_id".isin(1L, 20L)).count() == 0)
    // a fresh carrier of the quote pairs against NOTHING - the erased
    // docs' occurrences are gone, doc 2 shares no shingles
    val v = IncrementalContainment.processBatch(
      Seq(Doc(30L, quote)).toDF(), reg)
    assert(v.collect().isEmpty)
    // rewritten buckets kept the key-sorted probe layout
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(reg))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var checked = 0
    files.forEachRemaining { f =>
      val ks = spark.read.parquet(f.toString)
        .select($"shingle_md5").as[String].collect().toSeq
      assert(ks == ks.sorted, s"unsorted keys in $f")
      checked += 1
    }
    assert(checked > 0)
    // idempotent
    assert(IncrementalContainment.deleteDocs(spark, reg, Seq(1L, 20L)) == 0L)
  }

  test("streaming gate writes pair verdicts through foreachBatch") {
    val reg = tmp("graft_cont_reg_s")
    val out = tmp("graft_cont_out") + "/verdicts"
    val ms = MemoryStream[Doc]
    ms.addData(Doc(1L, quote), Doc(2L, filler("x", 40)))
    val q = IncrementalContainment.gate(ms.toDF(), reg, out)
      .option("checkpointLocation", tmp("graft_cont_ckpt")).start()
    try {
      q.processAllAvailable()
      ms.addData(Doc(10L, bigDoc))
      q.processAllAvailable()
      val v = pairs(spark.read.parquet(out))
      assert(v.map(t => (t._1, t._2)) == Set((1L, 10L)), s"got $v")
    } finally q.stop()
  }
}
