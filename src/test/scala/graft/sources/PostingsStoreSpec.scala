package graft.sources

import graft.SparkTestSession
import graft.operators.Retrieval
import graft.queue.VersionedDir
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[PostingsStore]]'s layout contract — what q126/q127's SQL gates
  * cannot see: that serving actually PRUNES (term-bucket partition
  * filter + pushed In(tok) over key-sorted files), that multi-batch
  * append, replay, erasure, and compaction all preserve exact equality
  * with the from-corpus scorer, and that a mutation that crashes at any
  * step of its commit leaves the whole old or the whole new store. */
class PostingsStoreSpec extends AnyFunSuite with SparkTestSession
    with SnapshotCommitFixtures {

  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def docs = graft.Tables.documents(spark, sfDir)
  private val terms = Seq("dup", "vector", "merge")

  private def version(d: String): Long =
    VersionedDir.resolve(java.nio.file.Paths.get(d)).version

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"

  private def serveRows(dir: String, ts: Seq[String] = terms, k: Int = 20) =
    PostingsStore.bm25TopK(spark, dir, ts, k)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  private def corpusRows(d: org.apache.spark.sql.DataFrame,
                         ts: Seq[String] = terms, k: Int = 20) =
    Retrieval.bm25TopK(d, ts, k)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  /** The bulk-built store's resolved snapshot: serving faces resolve it
    * to itself, and the package-private readers and probes take it as is
    * (nothing mutates it). */
  private lazy val bulk = {
    val d = tmp("graft_postings_bulk")
    PostingsStore.build(docs, d)
    VersionedDir.resolveDir(d)
  }

  test("driver-side term bucket equals the layout's md5 bucket column") {
    val got = Seq("dup", "vector", "merge", "the", "a").toDF("tok")
      .select($"tok", conv(substring(md5($"tok"), 1, 2), 16, 10).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    got.foreach { case (t, b) => assert(PostingsStore.bucketOf(t) == b, t) }
  }

  test("served BM25 equals the from-corpus scorer row for row") {
    assert(serveRows(bulk) == corpusRows(docs))
    assert(serveRows(bulk).nonEmpty)
  }

  test("three striped appends serve identically to the bulk build") {
    val d = tmp("graft_postings_striped")
    (0 to 2).foreach(b =>
      PostingsStore.appendBatch(docs.filter($"doc_id" % 3 === b), d, b.toLong))
    assert(serveRows(d) == serveRows(bulk))
  }

  test("a replayed micro-batch overwrites itself - serving unchanged") {
    val d = tmp("graft_postings_replay")
    (0 to 2).foreach(b =>
      PostingsStore.appendBatch(docs.filter($"doc_id" % 3 === b), d, b.toLong))
    val before = serveRows(d)
    PostingsStore.appendBatch(docs.filter($"doc_id" % 3 === 1), d, 1L)
    assert(serveRows(d) == before)
  }

  test("an append that crashes after publishing its snapshot, before the " +
    "commit point, is invisible to serving; compact folds the committed " +
    "store; the replay lands the batch") {
    val d = tmp("graft_postings_torn")
    val base = docs.filter($"doc_id" < 30)
    PostingsStore.build(base, d)
    val committed = serveRows(d)
    // batch 5's whole snapshot sits in the store root, its log entry never
    // linked
    val tail = docs.filter($"doc_id" >= 30 && $"doc_id" < 40)
    val steps = stepsOf(Some(1))(PostingsStore.appendBatch(tail, d, 5L))
    assert(steps == Seq("staged", "published"), steps)
    assert(serveRows(d) == committed)
    PostingsStore.compact(spark, d)
    assert(serveRows(d) == committed)
    // the stream's replay of batch 5 lands it beside the fold
    PostingsStore.appendBatch(tail, d, 5L)
    assert(serveRows(d) == corpusRows(docs.filter($"doc_id" < 40)))
  }

  test("the probe prunes: tbucket partition literals + pushed In(tok) eq leaves") {
    graft.streaming.IncrementalContainment.withInPushdown(spark, 2048) {
      val plan = PostingsStore.probe(spark, bulk, terms)
        .queryExecution.executedPlan.toString
      val pfStart = plan.indexOf("PartitionFilters: [")
      assert(pfStart >= 0, plan)
      val pf = plan.substring(pfStart,
        plan.indexOf("]", pfStart) max (pfStart + 1))
      terms.map(PostingsStore.bucketOf).distinct
        .foreach(b => assert(pf.contains(b.toString), s"bucket $b not in $pf"))
      assert(plan.contains("PushedFilters: [In(tok"), s"pushed In missing:\n$plan")
    }
  }

  test("postings files are sorted by tok within each leaf file") {
    // _termmeta is key-sorted too and stays in the walk; _docidx sorts by
    // doc_id and _stats/_erased carry no key — excluded
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(bulk))
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.toString.contains("_stats") && !p.toString.contains("_docidx") &&
        !p.toString.contains("_erased"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var checked = 0
    files.forEachRemaining { f =>
      val ks = spark.read.parquet(f.toString).select($"tok").as[String].collect().toSeq
      assert(ks == ks.sorted, s"unsorted keys in $f")
      checked += 1
    }
    assert(checked > 0)
  }

  test("erasure: serving equals BM25 over the survivors, exactly") {
    val d = tmp("graft_postings_erase")
    (0 to 2).foreach(b =>
      PostingsStore.appendBatch(docs.filter($"doc_id" % 3 === b), d, b.toLong))
    val erased = docs.filter($"doc_id" % 97 === 3)
      .select($"doc_id".cast("long")).as[Long].collect().toSeq
    val removed = PostingsStore.deleteDocs(spark, d, erased)
    assert(removed > 0)
    val after = serveRows(d)
    assert(after == corpusRows(docs.filter($"doc_id" % 97 =!= 3)))
    assert(after.map(_._2).toSet.intersect(erased.toSet).isEmpty)
    // idempotent: the ids match nothing now, stats untouched
    assert(PostingsStore.deleteDocs(spark, d, erased) == 0L)
    assert(serveRows(d) == after)
  }

  test("erasing a batch's every document removes the batch and its stats row") {
    val d = tmp("graft_postings_erase_batch")
    PostingsStore.appendBatch(docs.filter($"doc_id" < 5), d, 0L)
    PostingsStore.appendBatch(docs.filter($"doc_id" >= 5 && $"doc_id" < 10), d, 1L)
    PostingsStore.deleteDocs(spark, d,
      docs.filter($"doc_id" < 5).select($"doc_id".cast("long")).as[Long].collect().toSeq)
    val root = VersionedDir.resolveDir(d)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "ingest_batch=0")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_stats", "ingest_batch=0")))
    assert(serveRows(d) == corpusRows(docs.filter($"doc_id" >= 5 && $"doc_id" < 10)))
  }

  test("compaction folds batches, keeps serving identical, and refuses a folded replay") {
    val d = tmp("graft_postings_compact")
    (0 to 2).foreach(b =>
      PostingsStore.appendBatch(docs.filter($"doc_id" % 3 === b), d, b.toLong))
    val before = serveRows(d)
    val v = version(d)
    PostingsStore.compact(spark, d)
    assert(serveRows(d) == before)
    // the fold is ONE commit: readers resolve to the next snapshot, which
    // holds exactly one folded batch dir (plus the sidecars and watermark);
    // the pre-fold snapshot is retained one generation for in-flight
    // readers
    assert(version(d) == v + 1)
    val batchDirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(VersionedDir.resolveDir(d)))
      .filter(p => p.getFileName.toString.startsWith("ingest_batch="))
      .count()
    assert(batchDirs == 1L)
    // a post-crash replay of a folded batch must refuse, not double-count
    val e = intercept[IllegalArgumentException](
      PostingsStore.appendBatch(docs.filter($"doc_id" % 3 === 1), d, 1L))
    assert(e.getMessage.contains("folded"), e.getMessage)
    // but the NEXT batch appends fine and serving stays exact
    PostingsStore.appendBatch(docs.limit(0), d, 3L)
    assert(serveRows(d) == before)
  }

  test("batched serving equals per-query serving row for row") {
    val req = Seq((0L, "dup"), (0L, "vector"), (1L, "merge"), (1L, "the"),
      (2L, "dup"), (2L, "merge")).toDF("query_id", "term")
    val got = PostingsStore.bm25TopKBatch(spark, bulk, req, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val perQuery = Seq(
      0L -> Seq("dup", "vector"), 1L -> Seq("merge", "the"),
      2L -> Seq("dup", "merge")).flatMap { case (qid, ts) =>
      serveRows(bulk, ts, k = 10).map(t => (qid, t._1, t._2, t._3, t._4))
    }.toSet
    assert(got == perQuery && got.nonEmpty)
  }

  test("a duplicated request row does not double a term's contribution") {
    val req = Seq((0L, "dup"), (0L, "dup"), (0L, "vector")).toDF("query_id", "term")
    val got = PostingsStore.bm25TopKBatch(spark, bulk, req, k = 10)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == serveRows(bulk, Seq("dup", "vector"), k = 10))
  }

  test("streaming sink maintains the index batch by batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = tmp("graft_postings_sink")
    val rows = docs.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = PostingsStore.sink(
      stream.toDF().toDF("doc_id", "text"), d)
      .option("checkpointLocation", d + "_ckpt").start()
    try {
      rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { g =>
        stream.addData(g); q.processAllAvailable()
      }
    } finally q.stop()
    assert(serveRows(d) == corpusRows(docs))
  }

  test("streaming sink with levelMaxBatches holds the committed batch " +
    "count at the cap after every micro-batch, serves exactly, and " +
    "refuses a replayed folded batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = tmp("graft_postings_sink_level")
    def committedCount: Int = {
      val root = java.nio.file.Paths.get(VersionedDir.resolveDir(d))
      if (!java.nio.file.Files.exists(root)) 0
      else {
        val s = java.nio.file.Files.list(root)
        try {
          var n = 0; val it = s.iterator()
          while (it.hasNext)
            if (it.next().getFileName.toString.startsWith("ingest_batch="))
              n += 1
          n
        } finally s.close()
      }
    }
    val rows = docs.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = PostingsStore.sink(
      stream.toDF().toDF("doc_id", "text"), d, levelMaxBatches = 3)
      .option("checkpointLocation", d + "_ckpt").start()
    val capSeen = scala.collection.mutable.ArrayBuffer.empty[Int]
    try {
      // 8 micro-batches against a cap of 3: without the per-append fold
      // the count would reach 8; the cap must hold after EVERY batch
      rows.grouped(math.max(1, rows.size / 8 + 1)).foreach { g =>
        stream.addData(g); q.processAllAvailable()
        capSeen += committedCount
      }
    } finally q.stop()
    assert(capSeen.size >= 6 && capSeen.forall(_ <= 3), capSeen.mkString(","))
    assert(serveRows(d) == corpusRows(docs))
    // post-crash checkpoint replay of a batch the leveler folded away:
    // refused loudly (the _folded registry), never double-counted
    // the registry also carries negative ids (a fold folding an earlier
    // fold's output); a stream replay can only redeliver ids >= 0
    import scala.jdk.CollectionConverters._
    val folded = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(VersionedDir.resolveDir(d), "_folded"))
      .asScala.map(_.trim.toLong).filter(_ >= 0L)
    assert(folded.nonEmpty)
    val e = intercept[IllegalArgumentException](
      PostingsStore.appendBatch(docs.limit(5), d, folded.head))
    assert(e.getMessage.contains("compactLevel"), e.getMessage)
    assert(serveRows(d) == corpusRows(docs))
  }

  test("a replayed pre-erase batch cannot resurrect a takedown") {
    val d = tmp("graft_postings_tombstone")
    PostingsStore.appendBatch(docs.filter($"doc_id" < 10), d, 0L)
    PostingsStore.appendBatch(docs.filter($"doc_id" >= 10 && $"doc_id" < 20), d, 1L)
    PostingsStore.deleteDocs(spark, d, Seq(12L))
    // upstream redelivers batch 1 from a pre-erase checkpoint
    PostingsStore.appendBatch(docs.filter($"doc_id" >= 10 && $"doc_id" < 20), d, 1L)
    val after = serveRows(d)
    assert(after == corpusRows(docs.filter($"doc_id" < 20 && $"doc_id" =!= 12L)))
    assert(!after.map(_._2).contains(12L))
  }

  test("tombstones survive compaction: a post-fold append still filters them") {
    val d = tmp("graft_postings_tombstone_fold")
    PostingsStore.appendBatch(docs.filter($"doc_id" < 10), d, 0L)
    PostingsStore.deleteDocs(spark, d, Seq(4L))
    PostingsStore.compact(spark, d)
    // a NEW batch tries to re-ingest the taken-down document
    PostingsStore.appendBatch(
      docs.filter($"doc_id" === 4L || ($"doc_id" >= 10 && $"doc_id" < 15)), d, 1L)
    val after = serveRows(d)
    assert(after == corpusRows(docs.filter($"doc_id" < 15 && $"doc_id" =!= 4L)))
  }

  test("compacted files keep the key-sorted probe layout") {
    val d = tmp("graft_postings_compact_sort")
    PostingsStore.build(docs.limit(50), d)
    PostingsStore.compact(spark, d)
    val files = java.nio.file.Files.walk(
        java.nio.file.Paths.get(VersionedDir.resolveDir(d)))
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.toString.contains("_stats") && !p.toString.contains("_docidx") &&
        !p.toString.contains("_erased"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var checked = 0
    files.forEachRemaining { f =>
      val ks = spark.read.parquet(f.toString).select($"tok").as[String].collect().toSeq
      assert(ks == ks.sorted, s"unsorted keys in $f")
      checked += 1
    }
    assert(checked > 0)
  }

  // ---- r18: impact tiers, the doc-keyed locate, and the version flip ----

  test("tier cut: per (term, batch) the head holds min(df, headSize) postings " +
    "ranked by the integer impact order") {
    val post = PostingsStore.readPostings(spark, bulk)
    val byTier = post.groupBy($"tok", $"ingest_batch", $"tier")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getString(0), r.getLong(1), r.getInt(2)), r.getLong(3)))
      .toMap
    val dfs = post.groupBy($"tok", $"ingest_batch").agg(count(lit(1)).as("df"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
    assert(dfs.nonEmpty)
    var sawTail = false
    dfs.foreach { case ((tok, b), df) =>
      val head = byTier.getOrElse((tok, b, 0), 0L)
      val tail = byTier.getOrElse((tok, b, 1), 0L)
      assert(head == math.min(df, PostingsStore.DefaultHeadSize.toLong),
        s"$tok head=$head df=$df")
      assert(head + tail == df, s"$tok tiers don't partition df")
      sawTail ||= tail > 0
    }
    assert(sawTail, "fixture never exercised a tail - headSize too large")
    // the head is the TOP of the deterministic impact order: for a tailed
    // term, every head posting's (simpact, tf, -dl, -doc_id) dominates
    // every tail posting's
    val tailed = post.filter($"tier" === 1).select($"tok").distinct()
      .as[String].collect().head
    val rows = post.filter($"tok" === tailed && $"ingest_batch" === -1L)
      .select(PostingsStore.simpactQ.as("si"), $"tf", $"dl", $"doc_id", $"tier")
      .collect().map(r => ((r.getLong(0), r.getLong(1), -r.getLong(2), -r.getLong(3)), r.getInt(4)))
    val worstHead = rows.filter(_._2 == 0).map(_._1).min
    val bestTail = rows.filter(_._2 == 1).map(_._1).max
    assert(Ordering[(Long, Long, Long, Long)].gt(worstHead, bestTail),
      s"head/tail order violated: $worstHead vs $bestTail")
  }

  test("tiered serve plan: tier=0 partition literal beside the term buckets") {
    graft.streaming.IncrementalContainment.withInPushdown(spark, 2048) {
      val plan = PostingsStore.probeHead(spark, bulk, Seq("dup", "the"))
        .queryExecution.executedPlan.toString
      val pfStart = plan.indexOf("PartitionFilters: [")
      assert(pfStart >= 0, plan)
      val pf = plan.substring(pfStart, plan.indexOf("]", pfStart) max (pfStart + 1))
      assert(pf.contains("tier"), s"tier literal not in PartitionFilters: $pf")
      assert(plan.contains("PushedFilters: [In(tok"), s"pushed In missing:\n$plan")
    }
  }

  test("tiered serve never reads a tail: poisoned tail files are invisible, " +
    "head scores are exact, df comes from _termmeta") {
    val d = tmp("graft_postings_tiered")
    PostingsStore.build(docs, d)
    // corrupt EVERY tail file of the common term's bucket: the exact serve
    // must now fail (it reads both tiers), the tiered serve must not notice
    val b = PostingsStore.bucketOf("the")
    val tails = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      .filter(p => p.toString.contains(s"tbucket=$b/tier=1") &&
        p.getFileName.toString.endsWith(".parquet"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var poisoned = 0
    tails.forEachRemaining { f =>
      java.nio.file.Files.write(f, Array.fill[Byte](64)(0x7f)); poisoned += 1
    }
    assert(poisoned > 0, "fixture has no tail for 'the' - headSize too large")
    val pruned = PostingsStore.bm25TopKPruned(spark, d, Seq("dup", "the"), k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(pruned.nonEmpty)
    intercept[Throwable](serveRows(d, Seq("dup", "the"), k = 10))
    // head contributions are EXACTLY the full scorer's (same df via
    // _termmeta, same stats): single-term pruned scores must match the
    // exact full ranking's score for every doc both rank
    val d2 = tmp("graft_postings_tiered_exact")
    PostingsStore.build(docs, d2)
    val exactAll = serveRows(d2, Seq("the"), k = 100000).map(t => t._2 -> t._4).toMap
    val prunedThe = PostingsStore.bm25TopKPruned(spark, d2, Seq("the"), k = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toSeq
    prunedThe.foreach { case (id, q) =>
      assert(exactAll(id) == q, s"head score drifted for doc $id") }
  }

  test("tiered batched serving equals per-query tiered serving row for row") {
    val req = Seq((0L, "dup"), (0L, "the"), (1L, "merge"), (1L, "the"))
      .toDF("query_id", "term")
    val got = PostingsStore.bm25TopKPrunedBatch(spark, bulk, req, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val perQuery = Seq(0L -> Seq("dup", "the"), 1L -> Seq("merge", "the"))
      .flatMap { case (qid, ts) =>
        PostingsStore.bm25TopKPruned(spark, bulk, ts, k = 10)
          .collect()
          .map(r => (qid, r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }.toSet
    assert(got == perQuery && got.nonEmpty)
  }

  test("tiered serve equals the exact serve when every term fits the head") {
    val d = tmp("graft_postings_allhead")
    val small = docs.limit(50) // every df <= 50 < DefaultHeadSize
    PostingsStore.build(small, d)
    val pruned = PostingsStore.bm25TopKPruned(spark, d, terms, k = 20)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(pruned == corpusRows(small) && pruned.nonEmpty)
  }

  test("cross-batch doc-id re-ingest refuses loudly; checkDupIds=false skips") {
    val d = tmp("graft_postings_dupid")
    PostingsStore.appendBatch(docs.filter($"doc_id" < 10), d, 0L)
    val e = intercept[IllegalArgumentException](
      PostingsStore.appendBatch(docs.filter($"doc_id" === 5L), d, 1L))
    assert(e.getMessage.contains("cross-batch doc-id uniqueness"), e.getMessage)
    // the refused append left nothing torn: batch 1 never landed
    assert(serveRows(d) == corpusRows(docs.filter($"doc_id" < 10)))
    // an upstream-guaranteed caller can skip the probe (and owns the risk)
    PostingsStore.appendBatch(docs.filter($"doc_id" === 5L), d, 1L,
      checkDupIds = false)
  }

  test("erase locate is doc-keyed: a poisoned untouched batch is never read") {
    val d = tmp("graft_postings_locate")
    PostingsStore.appendBatch(docs.filter($"doc_id" < 10), d, 0L)
    PostingsStore.appendBatch(docs.filter($"doc_id" >= 10 && $"doc_id" < 20), d, 1L)
    // poison every postings file of batch 1: the pre-r18 locate (one full
    // store scan) would die here; the doc-keyed locate must not open any
    // of it, and the erase carries the batch by link without reading it
    val poisonedFiles = java.nio.file.Files.walk(
        java.nio.file.Paths.get(VersionedDir.resolveDir(d), "ingest_batch=1"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var n = 0
    poisonedFiles.forEachRemaining { f =>
      java.nio.file.Files.write(f, Array.fill[Byte](64)(0x11)); n += 1 }
    assert(n > 0)
    val removed = PostingsStore.deleteDocs(spark, d, Seq(3L))
    assert(removed > 0)
    // one doc_id-sorted docidx file per batch: the locate prunes row groups
    // by their min/max only if the id filter is pushed into the scan
    val plan = PostingsStore.locate(spark, VersionedDir.resolveDir(d), Seq(4L, 5L))
      .queryExecution.executedPlan.toString
    val pushed = plan.substring(plan.indexOf("PushedFilters: ["))
    assert(pushed.substring(0, pushed.indexOf("]")).contains("doc_id"), plan)
    assert(PostingsStore.deleteDocs(spark, d, Seq(4L)) > 0)
  }

  /** Serve `d` in a loop on a second thread while `mutations` commit back
    * to back; every serve must equal one of `states`. Returns the
    * failures. */
  private def hammer(d: String, states: Set[Seq[(Int, Long, Long, Long)]],
                     mutations: Seq[() => Any]): Seq[String] = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val got = serveRows(d)
          if (!states.contains(got)) failures.add(s"torn read: $got")
        } catch { case e: Throwable => failures.add(e.toString) }
      }
    })
    reader.start()
    try mutations.foreach(_())
    finally { stop = true; reader.join(60000) }
    failures.toArray.map(_.toString).toSeq
  }

  test("reader hammer across a LIVE compact: every serve is whole-old or " +
    "whole-new, never torn") {
    // the live mutations are appends, an erase, compactLevel and compact:
    // every serve must return one committed state's rows
    val d = tmp("graft_postings_hammer")
    (0 to 2).foreach(b =>
      PostingsStore.appendBatch(docs.filter($"doc_id" % 6 === b), d, b.toLong))
    val v = version(d)
    val erased = docs.filter($"doc_id" % 97 === 3)
      .select($"doc_id".cast("long")).as[Long].collect().toSeq
    val states = Seq(
      docs.filter($"doc_id" % 6 < 3), docs.filter($"doc_id" % 6 < 4),
      docs.filter($"doc_id" % 6 < 5),
      docs.filter($"doc_id" % 6 < 5 && $"doc_id" % 97 =!= 3))
      .map(corpusRows(_)).toSet
    val failures = hammer(d, states, Seq(
      () => PostingsStore.appendBatch(docs.filter($"doc_id" % 6 === 3), d, 3L),
      () => PostingsStore.appendBatch(docs.filter($"doc_id" % 6 === 4), d, 4L),
      () => PostingsStore.deleteDocs(spark, d, erased),
      () => PostingsStore.compactLevel(spark, d, maxBatches = 2),
      () => PostingsStore.compact(spark, d)))
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(serveRows(d) ==
      corpusRows(docs.filter($"doc_id" % 6 < 5 && $"doc_id" % 97 =!= 3)))
    assert(version(d) == v + 5)
  }

  // ---- r19: snapshot pinning, orphan-version heal, torn-batch semantics ----

  test("one serve = one committed-batch snapshot: a batch committing " +
    "mid-serve cannot inflate stats against an already-pinned probe") {
    val d = tmp("graft_postings_pin")
    PostingsStore.appendBatch(docs.filter($"doc_id" < 100), d, 0L)
    val expected = corpusRows(docs.filter($"doc_id" < 100))
    // the serving DataFrame pins its committed set (and probes) at CALL
    // time; the stats sum evaluates at collect time — after the append
    val served = PostingsStore.bm25TopK(spark, d, terms, k = 20)
    PostingsStore.appendBatch(
      docs.filter($"doc_id" >= 100 && $"doc_id" < 200), d, 1L)
    val got = served.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, "stats drifted to a batch the probe never saw")
    // same pin on the tiered path (its _termmeta df probe included)
    val pruned = PostingsStore.bm25TopKPruned(spark, d, Seq("dup", "the"), k = 10)
    PostingsStore.appendBatch(
      docs.filter($"doc_id" >= 200 && $"doc_id" < 300), d, 2L)
    val prunedGot = pruned.collect().map(_.getLong(1)).toSeq
    val prunedNow = PostingsStore
      .bm25TopKPruned(spark, d, Seq("dup", "the"), k = 10)
      .collect().map(_.getLong(1)).toSeq
    assert(prunedGot.nonEmpty)
    // the pinned serve is internally consistent; a FRESH serve sees batch 2
    assert(PostingsStore.bm25TopK(spark, d, terms, k = 20)
      .collect().length == corpusRows(docs.filter($"doc_id" < 300)).length)
    assert(prunedNow.nonEmpty)
  }

  test("compact heals an orphan v<next> left by a crash between the " +
    "snapshot move and its manifest entry") {
    val d = tmp("graft_postings_orphanv")
    PostingsStore.build(docs.limit(60), d) // -> v1
    PostingsStore.compact(spark, d) // -> v2
    val before = serveRows(d)
    // simulate the crash window: v3 published, its manifest entry never
    // linked — readers still resolve v2, and the next compact must neither
    // trip over the orphan nor serve it
    val orphan = java.nio.file.Paths.get(d, "v3-0badf00d")
    java.nio.file.Files.createDirectories(orphan.resolve("ingest_batch=-1"))
    java.nio.file.Files.write(orphan.resolve("junk"), Array[Byte](1, 2, 3))
    assert(version(d) == 2L)
    PostingsStore.compact(spark, d) // commits v3 under its own name
    assert(version(d) == 3L)
    assert(serveRows(d) == before)
    assert(!java.nio.file.Files.exists(orphan), "retention sweeps the orphan")
  }

  test("a torn batch's _docidx rows cannot refuse a legitimate append " +
    "of the same doc under a different batch") {
    val d = tmp("graft_postings_torndup")
    PostingsStore.appendBatch(docs.filter($"doc_id" < 10), d, 0L)
    // batch 1's snapshot, docidx included, is published and never linked
    stepsOf(Some(1))(PostingsStore.appendBatch(
      docs.filter($"doc_id" >= 10 && $"doc_id" < 20), d, 1L))
    // a different batch legitimately carries doc 15: only COMMITTED
    // registrations may refuse — this must append, not throw
    PostingsStore.appendBatch(docs.filter($"doc_id" === 15L), d, 2L)
    assert(serveRows(d) == corpusRows(
      docs.filter($"doc_id" < 10 || $"doc_id" === 15L)))
  }

  test("positions delta-encode round-trips to the absolute token offsets") {
    val expected = docs.limit(50)
      .select($"doc_id".cast("long").as("doc_id"),
        posexplode(graft.operators.TextAnalysis.tokens($"text")))
      .groupBy($"doc_id", $"col".as("tok"))
      .agg(sort_array(collect_list($"pos".cast("long"))).as("abs_pos"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getSeq[Long](2).toSeq)
      .toMap
    val d = tmp("graft_postings_positions")
    PostingsStore.build(docs.limit(50), d)
    val got = PostingsStore.readPostings(spark, VersionedDir.resolveDir(d))
      .select($"doc_id", $"tok",
        PostingsStore.decodePositions($"positions").as("abs_pos"),
        $"positions", $"tf")
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val key = (r.getLong(0), r.getString(1))
      val abs = r.getSeq[Long](2).toSeq
      val deltas = r.getSeq[Long](3).toSeq
      assert(abs == expected(key), s"positions drifted for $key")
      // the stored form is genuinely the GAP encoding, tf gaps per posting
      assert(deltas.size == r.getLong(4), key)
      assert(deltas.tail.forall(_ > 0), s"non-positive gap for $key")
      assert(deltas == (abs.head +: abs.sliding(2).toSeq
        .collect { case Seq(a, b) => b - a }), key)
    }
  }

  test("erase RE-TIERS: the store after a head-hitting takedown is " +
    "tier-identical to a fresh build of the survivors (tails promote)") {
    // the bulk store is where the stop word is actually TAILED at this SF
    // (df('the') ~ 390 in one batch; striped stripes stay under headSize)
    val d = tmp("graft_postings_retier")
    PostingsStore.build(docs, d)
    // take down docs that hold HEAD postings of the common term — pre-r19
    // the head stayed under-filled until compact
    val headIds = PostingsStore.readPostings(spark, VersionedDir.resolveDir(d))
      .filter($"tok" === "the" && $"tier" === 0)
      .select($"doc_id").as[Long].collect().sorted.take(12).toSeq
    assert(headIds.size == 12)
    assert(PostingsStore.deleteDocs(spark, d, headIds) > 0)
    val fresh = tmp("graft_postings_retier_fresh")
    PostingsStore.build(docs.filter(!$"doc_id".isin(headIds: _*)), fresh)
    def tiers(dir: String) = PostingsStore.readPostings(spark, VersionedDir.resolveDir(dir))
      .select($"tok", $"doc_id", $"tf", $"dl", $"tier")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSet
    assert(tiers(d) == tiers(fresh), "erase refill drifted from the fresh cut")
    // the refill PROMOTED tail postings: 'the' head is full again
    val counts = PostingsStore.readPostings(spark, VersionedDir.resolveDir(d))
      .filter($"tok" === "the")
      .agg(sum(when($"tier" === 0, 1).otherwise(0)).as("head"),
        count(lit(1)).as("df"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(counts._2 > PostingsStore.DefaultHeadSize,
      "fixture lost its tail - headSize too large")
    assert(counts._1 == PostingsStore.DefaultHeadSize.toLong,
      s"head=${counts._1} under-filled after erase")
    // and the tiered serve over the erased store equals the fresh build's
    def pruned(dir: String) = PostingsStore
      .bm25TopKPruned(spark, dir, Seq("dup", "the"), k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(pruned(d) == pruned(fresh) && pruned(d).nonEmpty)
    // the _termmeta tail certificates refreshed with the cut: WAND over
    // the erased store stays exact
    assert(wandRows(d, Seq("dup", "the"), 10) ==
      corpusRows(docs.filter(!$"doc_id".isin(headIds: _*)), Seq("dup", "the"), 10))
  }

  // ---- r19: WAND/max-score exact serving over the tiered layout ----

  private def wandRows(dir: String, ts: Seq[String], k: Int) =
    PostingsStore.bm25TopKWand(spark, dir, ts, k)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("WAND serving equals the exact serve bit for bit — mixed, " +
    "stop-word-only, rare-only, and fallback-k queries") {
    // bulk store at sf0.001: df('the') ~ 390 > headSize, so the stop word
    // IS tailed and the certificate path actually runs
    val tailed = PostingsStore.readPostings(spark, bulk)
      .filter($"tok" === "the" && $"tier" === 1).count()
    assert(tailed > 0, "fixture lost its tail - headSize too large")
    for (ts <- Seq(Seq("dup", "the"), Seq("the"), Seq("dup", "vector", "merge"),
      Seq("merge", "the", "dup"))) {
      assert(wandRows(bulk, ts, 10) == serveRows(bulk, ts, 10), ts)
    }
    // k past the head forces the whole-tail fallback — still exact
    assert(wandRows(bulk, Seq("the"), 400) == serveRows(bulk, Seq("the"), 400))
  }

  test("WAND certificate skip: a stop-word-only query never opens the " +
    "tail — poisoned tail files are invisible AND the result stays exact") {
    val d = tmp("graft_postings_wand_skip")
    PostingsStore.build(docs, d)
    // the exact answer, computed while the tail is still readable
    val exact = serveRows(d, Seq("the"), 10)
    val b = PostingsStore.bucketOf("the")
    val tails = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      .filter(p => p.toString.contains(s"tbucket=$b/tier=1") &&
        p.getFileName.toString.endsWith(".parquet"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var poisoned = 0
    tails.forEachRemaining { f =>
      java.nio.file.Files.write(f, Array.fill[Byte](64)(0x7f)); poisoned += 1
    }
    assert(poisoned > 0)
    // single-term head serve: every head doc matched the term, so no
    // candidate has it unmatched, and θ (10th head partial) dominates the
    // tail certificate — the tail is provably skippable, and skipped
    assert(wandRows(d, Seq("the"), 10) == exact)
    // the exact both-tier serve DOES need those files - sanity
    intercept[Throwable](serveRows(d, Seq("the"), 10))
  }

  test("WAND candidate fetch plan: tier=1 + term bucket partition " +
    "literals, pushed term eq + In(doc_id)") {
    graft.streaming.IncrementalContainment.withInPushdown(spark, 2048) {
      val plan = PostingsStore
        .probeTail(spark, bulk, "the", Seq(3L, 7L, 11L))
        .queryExecution.executedPlan.toString
      val pfStart = plan.indexOf("PartitionFilters: [")
      assert(pfStart >= 0, plan)
      val pf = plan.substring(pfStart, plan.indexOf("]", pfStart) max (pfStart + 1))
      assert(pf.contains("tier"), s"tier literal not in PartitionFilters: $pf")
      assert(pf.contains("tbucket"), s"tbucket literal not in PartitionFilters: $pf")
      assert(plan.contains("In(doc_id"), s"pushed In(doc_id) missing:\n$plan")
    }
  }

  test("WAND serves exactly across erase and compaction") {
    val d = tmp("graft_postings_wand_maint")
    (0 to 2).foreach(b =>
      PostingsStore.appendBatch(docs.filter($"doc_id" % 3 === b), d, b.toLong))
    val erased = docs.filter($"doc_id" % 97 === 3)
      .select($"doc_id".cast("long")).as[Long].collect().toSeq
    PostingsStore.deleteDocs(spark, d, erased)
    val survivors = docs.filter($"doc_id" % 97 =!= 3)
    assert(wandRows(d, Seq("dup", "the"), 10) ==
      corpusRows(survivors, Seq("dup", "the"), 10))
    PostingsStore.compact(spark, d)
    assert(wandRows(d, Seq("dup", "the"), 10) ==
      corpusRows(survivors, Seq("dup", "the"), 10))
  }

  test("batched WAND equals the exact batched serve row for row — " +
    "including the stop-word query and a single-term-only batch") {
    val req = Seq((0L, "dup"), (0L, "vector"), (1L, "merge"), (1L, "the"),
      (2L, "dup"), (2L, "merge")).toDF("query_id", "term")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val exact = rows(PostingsStore.bm25TopKBatch(spark, bulk, req, k = 10))
    val wand = rows(PostingsStore.bm25TopKWandBatch(spark, bulk, req, k = 10))
    assert(wand == exact && wand.nonEmpty)
    // a batch where one query needs candidates ('dup'+'the') and another
    // a whole-tail fallback ('the' alone at large k)
    val req2 = Seq((0L, "dup"), (0L, "the"), (1L, "the")).toDF("query_id", "term")
    assert(rows(PostingsStore.bm25TopKWandBatch(spark, bulk, req2, k = 300)) ==
      rows(PostingsStore.bm25TopKBatch(spark, bulk, req2, k = 300)))
  }

  test("batched WAND certificate skip: a skip-certified batch never " +
    "opens a tail — poisoned tails invisible, result exact") {
    val d = tmp("graft_postings_wandb_skip")
    PostingsStore.build(docs, d)
    val req = Seq((0L, "the"), (1L, "dup")).toDF("query_id", "term")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val exact = rows(PostingsStore.bm25TopKBatch(spark, d, req, k = 10))
    val b = PostingsStore.bucketOf("the")
    val tails = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      .filter(p => p.toString.contains(s"tbucket=$b/tier=1") &&
        p.getFileName.toString.endsWith(".parquet"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var poisoned = 0
    tails.forEachRemaining { f =>
      java.nio.file.Files.write(f, Array.fill[Byte](64)(0x7f)); poisoned += 1
    }
    assert(poisoned > 0)
    // q0 is single-term 'the' (head-complete, certificate skip), q1 has
    // no tail at all: the batch provably never lists a tail partition
    assert(rows(PostingsStore.bm25TopKWandBatch(spark, d, req, k = 10)) == exact)
  }

  // ---- r19: positional postings + phrase serving ----

  private def brutePhrase(d: org.apache.spark.sql.DataFrame,
                          phrase: Seq[String], k: Int) = {
    import org.apache.spark.sql.expressions.Window
    val toks = d.select($"doc_id".cast("long").as("doc_id"),
        posexplode(graft.operators.TextAnalysis.tokens($"text")))
      .select($"doc_id", $"pos".cast("long").as("p"), $"col".as("tok"))
    val slots = phrase.zipWithIndex.map { case (t, i) =>
      toks.filter($"tok" === t).select($"doc_id", ($"p" - i).as("start")) }
    slots.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
      .groupBy($"doc_id").agg(count(lit(1)).as("phrase_tf"))
      .orderBy($"phrase_tf".desc, $"doc_id").limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy($"phrase_tf".desc, $"doc_id")))
      .select($"rnk", $"doc_id", $"phrase_tf")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
  }

  private def phraseRows(dir: String, phrase: Seq[String], k: Int) =
    PostingsStore.phraseTopK(spark, dir, phrase, k)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq

  test("phrase serving equals brute-force adjacency over the corpus — " +
    "bigram, trigram, repeated-token, and no-match phrases") {
    for (ph <- Seq(Seq("the", "fast"), Seq("table", "hash", "scan"),
      Seq("batch", "batch"), Seq("scan", "merge"))) {
      val got = phraseRows(bulk, ph, 20)
      assert(got == brutePhrase(docs, ph, 20), ph)
    }
    assert(phraseRows(bulk, Seq("the", "fast"), 20).nonEmpty)
    // multi-occurrence docs rank first: the fixture must exercise tf > 1
    assert(phraseRows(bulk, Seq("batch", "batch"), 20).exists(_._3 > 1),
      "repeated-token fixture never hit phrase_tf > 1")
    assert(phraseRows(bulk, Seq("zzz_not_a_token", "the"), 5).isEmpty)
  }

  test("phrase serving across striped appends, erase, and compaction") {
    val d = tmp("graft_postings_phrase_maint")
    (0 to 2).foreach(b =>
      PostingsStore.appendBatch(docs.filter($"doc_id" % 3 === b), d, b.toLong))
    assert(phraseRows(d, Seq("the", "fast"), 20) ==
      brutePhrase(docs, Seq("the", "fast"), 20))
    val victim = brutePhrase(docs, Seq("the", "fast"), 1).head._2
    PostingsStore.deleteDocs(spark, d, Seq(victim))
    val afterErase = phraseRows(d, Seq("the", "fast"), 20)
    assert(afterErase == brutePhrase(
      docs.filter($"doc_id" =!= victim), Seq("the", "fast"), 20))
    assert(!afterErase.map(_._2).contains(victim))
    PostingsStore.compact(spark, d)
    assert(phraseRows(d, Seq("the", "fast"), 20) == afterErase)
  }

  private def bruteNear(d: org.apache.spark.sql.DataFrame,
                        phrase: Seq[String], k: Int, slop: Int) = {
    import org.apache.spark.sql.expressions.Window
    val toks = d.select($"doc_id".cast("long").as("doc_id"),
        posexplode(graft.operators.TextAnalysis.tokens($"text")))
      .select($"doc_id", $"pos".cast("long").as("p"), $"col".as("tok"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => (r.getLong(1), r.getString(2))) }
    // driver-side reference: count start positions with a valid ordered
    // chain (gaps <= 1 + slop) — independent of the serve's HOF algebra
    def chains(ps: Seq[(Long, String)]): Long = {
      val bySlot = phrase.map(t => ps.collect { case (p, tk) if tk == t => p }.sorted)
      def ok(i: Int, prev: Long): Boolean =
        i == phrase.size ||
          bySlot(i).exists(p => p > prev && p - prev <= 1 + slop && ok(i + 1, p))
      bySlot.head.count(p0 => ok(1, p0))
    }
    toks.toSeq.map { case (id, ps) => (id, chains(ps)) }
      .filter(_._2 >= 1).sortBy { case (id, tf) => (-tf, id) }.take(k)
      .zipWithIndex.map { case ((id, tf), i) => (i + 1, id, tf) }
  }

  test("phrase seed pruning: the seeded probe equals the full-probe " +
    "fallback row for row, and the candidate fetch plan pushes In(doc_id)") {
    for ((ph, slop) <- Seq((Seq("the", "fast"), 0), (Seq("table", "merge"), 2),
      (Seq("table", "hash", "scan"), 0))) {
      val seeded = PostingsStore.phraseTopK(spark, bulk, ph, 20, slop)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      // seedMaxDf = 0 forces the full O(Σ df) probe — results identical
      val full = PostingsStore.phraseTopK(spark, bulk, ph, 20, slop, seedMaxDf = 0L)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(seeded == full && seeded.nonEmpty, s"$ph slop=$slop")
    }
    graft.streaming.IncrementalContainment.withInPushdown(spark, 2048) {
      val plan = PostingsStore
        .probePositionsForDocs(spark, bulk, Seq("the"), Seq(3L, 7L))
        .queryExecution.executedPlan.toString
      assert(plan.contains("In(doc_id"), s"pushed In(doc_id) missing:\n$plan")
      val pfStart = plan.indexOf("PartitionFilters: [")
      assert(pfStart >= 0 && plan.substring(pfStart,
        plan.indexOf("]", pfStart) max (pfStart + 1)).contains("tbucket"), plan)
    }
  }

  test("sloppy phrase equals a driver-side chain reference — bigram and " +
    "trigram windows; slop=0 degenerates to the exact phrase") {
    for ((ph, slop) <- Seq((Seq("table", "merge"), 2),
      (Seq("scan", "merge"), 1), (Seq("the", "fast", "key"), 3))) {
      val got = PostingsStore.phraseTopK(spark, bulk, ph, 20, slop)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == bruteNear(docs, ph, 20, slop), s"$ph slop=$slop")
    }
    assert(PostingsStore.phraseTopK(spark, bulk, Seq("the", "fast"), 20, slop = 0)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
      phraseRows(bulk, Seq("the", "fast"), 20))
    // the window genuinely widens the match set on this corpus
    assert(PostingsStore.phraseTopK(spark, bulk, Seq("table", "merge"), 200, 2).count() >
      PostingsStore.phraseTopK(spark, bulk, Seq("table", "merge"), 200, 0).count())
  }

  test("phrase serving REFUSES a pre-positions legacy store loudly; " +
    "BM25 (which never reads positions) still serves it; appends refuse " +
    "rather than mix formats") {
    val d = tmp("graft_postings_legacy")
    PostingsStore.build(docs.limit(60), d)
    // strip the positions column AND the _format marker — the pre-gen-4
    // on-disk shape (a true legacy store never had either)
    val root = VersionedDir.resolveDir(d)
    val batchDir = java.nio.file.Paths.get(root, "ingest_batch=-1")
    val legacy = spark.read.parquet(batchDir.toString)
      .drop("positions")
      .select($"tok", $"doc_id", $"tf", $"dl",
        $"tbucket".cast("int").as("tbucket"), $"tier".cast("int").as("tier"))
      .localCheckpoint(true)
    graft.queue.Maintenance.deleteRec(batchDir)
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "_format"))
    legacy.repartition(1)
      .sortWithinPartitions($"tbucket", $"tier", $"tok", $"doc_id")
      .write.partitionBy("tbucket", "tier").parquet(batchDir.toString)
    assert(serveRows(d, Seq("dup"), 10).nonEmpty)
    // adjacency over null positions would be silently EMPTY — refuse.
    // The guard is the marker (one file-existence check), NOT a per-serve
    // null scan over the probe (the r19 shape the ADVICE flagged).
    val e = intercept[IllegalArgumentException](
      PostingsStore.phraseTopK(spark, d, Seq("the", "fast"), 10))
    assert(e.getMessage.contains("positional format"), e.getMessage)
    // and the marker's trust contract holds because appends to a
    // marker-less store with data refuse: gen-4 batches can never land
    // beside legacy ones (a mixed store would make the marker a lie)
    val e2 = intercept[IllegalArgumentException](
      PostingsStore.appendBatch(docs.filter($"doc_id" >= 400), d, 0L,
        checkDupIds = false))
    assert(e2.getMessage.contains("_format"), e2.getMessage)
  }

  test("the phrase probe prunes like every probe: bucket partition " +
    "literals + pushed In(tok); BM25 probes never read positions") {
    graft.streaming.IncrementalContainment.withInPushdown(spark, 2048) {
      val plan = PostingsStore
        .probePositions(spark, bulk, Seq("the", "fast"))
        .queryExecution.executedPlan.toString
      val pfStart = plan.indexOf("PartitionFilters: [")
      assert(pfStart >= 0, plan)
      val pf = plan.substring(pfStart, plan.indexOf("]", pfStart) max (pfStart + 1))
      Seq("the", "fast").map(PostingsStore.bucketOf).distinct
        .foreach(b => assert(pf.contains(b.toString), s"bucket $b not in $pf"))
      assert(plan.contains("In(tok"), s"pushed In missing:\n$plan")
      assert(plan.contains("positions"), "phrase probe must read positions")
      // and the scoring probe's ReadSchema PRUNES the positions column —
      // the weight of the phrase substrate never taxes BM25
      val bm25Plan = PostingsStore.probe(spark, bulk, terms)
        .queryExecution.executedPlan.toString
      assert(!bm25Plan.contains("positions"),
        s"BM25 probe reads positions:\n$bm25Plan")
    }
  }

  test("a takedown filed while its batch is torn still sticks: the empty " +
    "locate tombstones, so the batch's replay re-registers only survivors") {
    val d = tmp("graft_postings_torntakedown")
    PostingsStore.appendBatch(docs.filter($"doc_id" < 10), d, 0L)
    stepsOf(Some(1))(PostingsStore.appendBatch(
      docs.filter($"doc_id" >= 10 && $"doc_id" < 20), d, 5L))
    // doc 12 lives only in the crashed (uncommitted) batch: the locate finds
    // nothing — pre-fix this returned 0 WITHOUT a tombstone and the replay
    // silently resurrected the doc
    assert(PostingsStore.deleteDocs(spark, d, Seq(12L)) == 0L)
    PostingsStore.appendBatch(docs.filter($"doc_id" >= 10 && $"doc_id" < 20), d, 5L)
    val after = serveRows(d)
    assert(after == corpusRows(docs.filter($"doc_id" < 20 && $"doc_id" =!= 12L)))
    assert(!after.map(_._2).contains(12L))
  }

  // ---- r20: leveled compaction, block-max WAND, dispatch, phrase+BM25 ----

  private def committedCount(d: String): Int = {
    val root = java.nio.file.Paths.get(VersionedDir.resolveDir(d), "_stats")
    if (!java.nio.file.Files.exists(root)) 0
    else {
      val s = java.nio.file.Files.list(root)
      try {
        var n = 0
        val it = s.iterator()
        while (it.hasNext)
          if (it.next().getFileName.toString.startsWith("ingest_batch=")) n += 1
        n
      } finally s.close()
    }
  }

  test("compactLevel folds only the smallest batches behind the vlog " +
    "flip: serving identical, count capped, kept batches carried by " +
    "hard link, folded replays refused") {
    val d = tmp("graft_postings_level")
    (0 to 4).foreach(b =>
      PostingsStore.appendBatch(docs.filter($"doc_id" % 5 === b), d, b.toLong))
    val before = serveRows(d)
    val v = version(d)
    assert(!PostingsStore.compactLevel(spark, d, maxBatches = 8),
      "below the cap must be a no-op")
    assert(version(d) == v, "a no-op fold must not commit")
    assert(PostingsStore.compactLevel(spark, d, maxBatches = 3))
    assert(version(d) == v + 1)
    assert(committedCount(d) == 3)
    assert(serveRows(d) == before && before == corpusRows(docs))
    // tiered + WAND + phrase all serve the leveled store
    assert(PostingsStore.bm25TopKPruned(spark, d, Seq("dup", "the"), 10)
      .count() == 10)
    assert(PostingsStore.bm25TopKWand(spark, d, terms, 10).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      == serveRows(d, terms, 10))
    assert(PostingsStore.phraseTopK(spark, d, Seq("the", "fast"), 5).count() > 0)
    // kept (largest) batches entered the fold's snapshot as HARD LINKS — zero data bytes
    // moved for them; the fold's write cost is the folded bytes only
    val keptLeafFile = java.nio.file.Files
      .walk(java.nio.file.Paths.get(VersionedDir.resolveDir(d)))
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.toString.contains("ingest_batch=-"))
      .findFirst().get()
    assert(java.nio.file.Files.getAttribute(keptLeafFile, "unix:nlink")
      .asInstanceOf[Number].intValue >= 2,
      s"kept batch file $keptLeafFile is not hard-linked")
    // exactly the folded (smallest) batch ids are refused on replay; a
    // KEPT batch replays idempotently (overwrites itself, serving fixed)
    val refused = (0 to 4).filter { b =>
      scala.util.Try(PostingsStore.appendBatch(
        docs.filter($"doc_id" % 5 === b), d, b.toLong,
        checkDupIds = false)).isFailure
    }
    assert(refused.size == 3, s"folded-replay refusals: $refused")
    assert(serveRows(d) == before, "a kept-batch replay drifted serving")
    // a second fold stacks: append two more, level again, still exact
    PostingsStore.appendBatch(docs.limit(0), d, 100L)
    assert(committedCount(d) == 4)
    val v2 = version(d)
    assert(PostingsStore.compactLevel(spark, d, maxBatches = 3))
    assert(version(d) == v2 + 1)
    assert(serveRows(d) == before)
  }

  test("leveled sink discipline: batch count stays at the cap across a " +
    "12-batch ingest, serving exact throughout") {
    val d = tmp("graft_postings_level12")
    (0 to 11).foreach { b =>
      PostingsStore.appendBatch(docs.filter($"doc_id" % 12 === b), d, b.toLong)
      PostingsStore.compactLevel(spark, d, maxBatches = 4)
      assert(committedCount(d) <= 4, s"batch count broke the cap at $b")
    }
    assert(serveRows(d) == corpusRows(docs))
    // erasure still works over a leveled store (folded + kept batches)
    import spark.implicits._
    val takedown = docs.filter($"doc_id" % 97 === 3)
      .select($"doc_id".cast("long")).as[Long].collect().toSeq
    PostingsStore.deleteDocs(spark, d, takedown)
    assert(serveRows(d) == corpusRows(docs.filter($"doc_id" % 97 =!= 3)))
  }

  test("reader hammer across a LIVE compactLevel: every serve is " +
    "whole-old or whole-new, never torn") {
    val d = tmp("graft_postings_levelhammer")
    (0 to 4).foreach(b =>
      PostingsStore.appendBatch(docs.filter($"doc_id" % 5 === b), d, b.toLong))
    val expected = serveRows(d)
    val v = version(d)
    val failures = hammer(d, Set(expected), Seq(
      () => PostingsStore.compactLevel(spark, d, maxBatches = 3),
      () => PostingsStore.appendBatch(docs.limit(0), d, 10L),
      () => PostingsStore.compactLevel(spark, d, maxBatches = 2)))
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(serveRows(d) == expected)
    assert(version(d) == v + 3)
  }

  test("WAND dispatch: a query whose every term fits the head serves " +
    "via the exact path with NO certificate assembly") {
    // an all-head store (every df <= 120 < headSize): _termmeta alone
    // proves certificates are vacuous and the serve dispatches before
    // any head probe ever runs
    val d = tmp("graft_postings_dispatch")
    val small = docs.limit(120)
    PostingsStore.build(small, d)
    val (got, diag) = PostingsStore.bm25TopKWandDiag(spark, d, terms, 10)
    assert(diag.dispatchedExact && diag.headRows == 0L &&
      diag.candidateRows == 0L, diag.toString)
    assert(got.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      == serveRows(d, terms, 10))
    // batched twin
    val req = Seq((0L, "dup"), (0L, "vector"), (1L, "merge"))
      .toDF("query_id", "term")
    val (gotB, diagB) = PostingsStore.bm25TopKWandBatchDiag(spark, d, req, 10)
    assert(diagB.dispatchedExact, diagB.toString)
    assert(gotB.collect().toSeq ==
      PostingsStore.bm25TopKBatch(spark, d, req, 10).collect().toSeq)
    // on the full bulk store the same query carries TAILED terms
    // ("vector"/"merge" exceed the head at this SF): no dispatch, the
    // certificate path engages and still serves the exact rows
    val (got2, diag2) = PostingsStore.bm25TopKWandDiag(spark, bulk, terms, 10)
    assert(!diag2.dispatchedExact && !diag2.exactFallback &&
      !diag2.fullTailFallback, diag2.toString)
    assert(got2.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      == serveRows(bulk, terms, 10))
  }

  test("WAND head-summary cap: past maxHeadRows the serve falls back to " +
    "the exact both-tier path - bounded driver state, identical output") {
    val (got, diag) = PostingsStore.bm25TopKWandDiag(
      spark, bulk, Seq("dup", "the"), 10, maxHeadRows = 1L)
    assert(diag.exactFallback && !diag.dispatchedExact, diag.toString)
    assert(got.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      == serveRows(bulk, Seq("dup", "the"), 10))
  }

  test("WAND whole-tail fallback: when certificates cannot exclude unseen " +
    "documents the single face reads the query's tails whole on top of its " +
    "head rows - identical output") {
    // k past the head: fewer than k head docs, so no θ exists
    val (got, diag) = PostingsStore.bm25TopKWandDiag(spark, bulk, Seq("the"), 400)
    assert(diag.fullTailFallback && !diag.exactFallback && !diag.dispatchedExact &&
      diag.headRows > 0L && diag.candidateRows == 0L, diag.toString)
    assert(got.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      == serveRows(bulk, Seq("the"), 400))
  }

  test("block-max certificates: an outlier posting in a stop word's tail " +
    "poisons only its own block - the refined cut fetches strictly fewer " +
    "candidates than the per-batch bound, both serving exactly") {
    val d = tmp("graft_postings_blockmax")
    import spark.implicits._
    // head: 256 docs with tf=50 (top impact). Tail: one OUTLIER doc with
    // tf=40 (just below the head cut) + 300 docs with tf=1. The
    // per-batch certificate is contrib(tf=40) - poisoned for every doc;
    // the outlier's own 64-posting block is the only one carrying that
    // bound, every other block certifies contrib(tf=1). 20 docs carry
    // only the rare term; their ids sit far outside every tail block's
    // id range, so the refined bound PROVES they have no "zz" tail row.
    val corpus =
      (0 until 256).map(i => (i.toLong, Seq.fill(50)("zz").mkString(" ") + " pad")) ++
      (300 until 600).map(i => (i.toLong, "zz pad pad pad")) ++
      Seq((600L, Seq.fill(40)("zz").mkString(" ") + " pad")) ++
      (1000 until 1020).map(i => (i.toLong, "rare pad pad pad"))
    val cdf = corpus.toDF("doc_id", "text")
    PostingsStore.build(cdf, d)
    val qterms = Seq("rare", "zz")
    val exact = serveRows(d, qterms, 5)
    val (gotBatchBound, diagOff) = PostingsStore.bm25TopKWandDiag(
      spark, d, qterms, 5, useBlockMax = false)
    // blockMaxMinRows = 1 forces the refinement past the candidate-count
    // gate (the adversary's coarse set is ~20 rows, below the production
    // floor — the gate itself is specced separately below)
    val (gotBlock, diagOn) = PostingsStore.bm25TopKWandDiag(
      spark, d, qterms, 5, useBlockMax = true, blockMaxMinRows = 1L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows(gotBatchBound) == exact && rows(gotBlock) == exact)
    assert(!diagOff.exactFallback && !diagOn.exactFallback &&
      !diagOff.fullTailFallback && !diagOn.fullTailFallback,
      s"adversary degenerated to fallback: $diagOff / $diagOn")
    assert(diagOn.blockRefined, diagOn.toString)
    assert(diagOn.candidateRows < diagOff.candidateRows,
      s"block-max did not shrink the fetch: ${diagOn.candidateRows} vs " +
        s"${diagOff.candidateRows}")
    // the rare-only docs are exactly the per-batch bound's false
    // candidates: the refined cut excludes them all
    assert(diagOff.candidateRows >= 20 && diagOn.candidateRows == 0L,
      s"${diagOff.candidateRows} / ${diagOn.candidateRows}")
  }

  test("block-max refinement is gated on candidate-set size: a small " +
    "coarse cut serves without touching _blockmeta (blockRefined=false), " +
    "output identical to the forced refinement") {
    val d = tmp("graft_postings_blockgate")
    import spark.implicits._
    // same adversary corpus shape as above — the coarse candidate set is
    // ~20 rows, far below WandBlockMaxMinCandidates, so the DEFAULT serve
    // must skip the refinement read entirely and fetch the coarse set
    val corpus =
      (0 until 256).map(i => (i.toLong, Seq.fill(50)("zz").mkString(" ") + " pad")) ++
      (300 until 600).map(i => (i.toLong, "zz pad pad pad")) ++
      Seq((600L, Seq.fill(40)("zz").mkString(" ") + " pad")) ++
      (1000 until 1020).map(i => (i.toLong, "rare pad pad pad"))
    PostingsStore.build(corpus.toDF("doc_id", "text"), d)
    val qterms = Seq("rare", "zz")
    val exact = serveRows(d, qterms, 5)
    val (gotDefault, diagDefault) = PostingsStore.bm25TopKWandDiag(
      spark, d, qterms, 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows(gotDefault) == exact)
    assert(!diagDefault.blockRefined && !diagDefault.exactFallback &&
      !diagDefault.fullTailFallback && !diagDefault.dispatchedExact,
      diagDefault.toString)
    // the coarse fetch carries the per-batch bound's false candidates —
    // nonzero, proving the serve went through the candidate path
    assert(diagDefault.candidateRows >= 20, diagDefault.toString)
    // the batched face obeys the same gate
    val req = Seq((0L, "rare"), (0L, "zz")).toDF("query_id", "term")
    val (gotBatch, diagBatch) = PostingsStore.bm25TopKWandBatchDiag(
      spark, d, req, 5)
    assert(!diagBatch.blockRefined, diagBatch.toString)
    assert(gotBatch.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      == exact.map { case (rnk, id, hits, q) => (0L, rnk, id, hits, q) })
  }

  test("block-max certificates survive erase and leveled compaction: " +
    "WAND stays exact and block-refined over a mutated store") {
    val d = tmp("graft_postings_blockmaint")
    (0 to 2).foreach(b =>
      PostingsStore.appendBatch(docs.filter($"doc_id" % 3 === b), d, b.toLong))
    import spark.implicits._
    val takedown = docs.filter($"doc_id" % 31 === 5)
      .select($"doc_id".cast("long")).as[Long].collect().toSeq
    PostingsStore.deleteDocs(spark, d, takedown)
    val survivors = docs.filter($"doc_id" % 31 =!= 5)
    val (got, _) = PostingsStore.bm25TopKWandDiag(
      spark, d, Seq("dup", "the"), 10)
    assert(got.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      == corpusRows(survivors, Seq("dup", "the"), 10))
    PostingsStore.appendBatch(
      survivors.limit(0), d, 5L) // push count over the cap is not needed;
    PostingsStore.compactLevel(spark, d, maxBatches = 2)
    val (got2, _) = PostingsStore.bm25TopKWandDiag(
      spark, d, Seq("dup", "the"), 10)
    assert(got2.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      == corpusRows(survivors, Seq("dup", "the"), 10))
  }

  test("phrase-ranked retrieval equals the driver-composed reference " +
    "(phrase filter x exact BM25, corpus-wide df); the seed-pruned and " +
    "full-probe paths agree; an absent phrase serves empty") {
    val phrase = Seq("the", "fast")
    val scoring = Seq("the", "fast", "dup")
    val got = PostingsStore.bm25TopKPhrase(
      spark, bulk, phrase, Seq("dup"), k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // reference: every phrase match (phraseTopK, large k) joined with the
    // exact from-corpus BM25 scores over the scoring terms, re-ranked
    val matches = PostingsStore.phraseTopK(spark, bulk, phrase, k = 100000)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val scores = Retrieval.bm25TopK(docs, scoring, k = 1000000)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    val expected = matches.toSeq
      .map { case (id, ptf) =>
        val (hits, q) = scores(id); (id, ptf, hits, q) }
      .sortBy { case (id, _, _, q) => (-q, id) }
      .take(10).zipWithIndex
      .map { case ((id, ptf, hits, q), i) => (i + 1, id, ptf, hits, q) }
    assert(got == expected && got.nonEmpty)
    // forcing the full-probe fallback (seed list over the cap) changes
    // the read path, never the answer
    val gotFull = PostingsStore.bm25TopKPhrase(
      spark, bulk, phrase, Seq("dup"), k = 10, seedMaxDf = 0L)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(gotFull == got)
    // slop composes too: proximity filter, same scorer
    assert(PostingsStore.bm25TopKPhrase(spark, bulk,
      Seq("table", "merge"), Nil, k = 10, slop = 2).count() > 0)
    assert(PostingsStore.bm25TopKPhrase(spark, bulk,
      Seq("zzzz", "qqqq"), Nil, k = 10).isEmpty)
  }

  test("a store rooted at a glob-metacharacter path reads through the " +
    "prefix-scoped registry scan (RegistryIO escapes the dir)") {
    val base = java.nio.file.Files.createTempDirectory("graft_glob[1]{x}")
    val d = base.toString + "/store"
    PostingsStore.build(docs.limit(80), d)
    assert(serveRows(d, terms, 10) == corpusRows(docs.limit(80), terms, 10))
  }

  // ---- every mutation is one snapshot commit ----

  test("a crash after every commit step of appendBatch, deleteDocs and a " +
    "leveled sink micro-batch leaves the whole old or the whole new state, " +
    "and the replay converges") {
    // 24 short documents over an 8-word vocabulary, each carrying one of
    // the served terms: few term buckets per batch, so few files per commit
    val vocab = Seq("dup", "vector", "merge", "scan", "table", "hash", "the", "fast")
    val small = (0 until 24).map { i =>
      (i.toLong, ((0 to i % 5).map(j => vocab((3 * i + 5 * j) % vocab.size)) :+
        vocab(i % 3)).mkString(" "))
    }.toDF("doc_id", "text")
    def part(lo: Long, hi: Long) = small.filter($"doc_id" >= lo && $"doc_id" < hi)
    def sinkBatch(batch: org.apache.spark.sql.DataFrame, d: String, b: Long) =
      PostingsStore.sinkBatch(batch, d, b, "doc_id", "text", compactEvery = 0,
        levelMaxBatches = 2, PostingsStore.DefaultHeadSize)
    // two commits before the one under test, so its retention sweeps one
    val seeded = tmp("graft_postings_crash_seed")
    sinkBatch(part(0L, 8L), seeded, 0L)
    sinkBatch(part(8L, 16L), seeded, 1L)
    val before = serveRows(seeded)
    assert(before == corpusRows(part(0L, 16L)))
    // appendBatch of a fresh batch
    crashEveryStep(serveRows(_))(seeded, before,
      PostingsStore.appendBatch(part(16L, 24L), _, 2L), corpusRows(small))
    // deleteDocs: the retry of an erase that committed finds nothing and
    // commits its tombstones again
    crashEveryStep(serveRows(_))(seeded, before,
      PostingsStore.deleteDocs(spark, _, Seq(2L, 7L, 13L)),
      corpusRows(part(0L, 16L).filter(!$"doc_id".isin(2L, 7L, 13L))))
    // a leveled sink micro-batch: the append and the fold it triggers (a
    // third batch over the cap of 2) commit as ONE snapshot; the stream's
    // replay of a micro-batch whose commit landed is a no-op
    crashEveryStep(serveRows(_))(seeded, before,
      sinkBatch(part(16L, 24L), _, 2L), corpusRows(small))
    val d = copyStore(seeded)
    assert(stepsOf(None)(sinkBatch(part(16L, 24L), d, 2L)) == commitSteps)
    assert(committedCount(d) == 2 && serveRows(d) == corpusRows(small))
  }

  test("a read of a snapshot that later commits swept throws instead of " +
    "reading as an empty store") {
    val d = tmp("graft_postings_stale")
    PostingsStore.appendBatch(docs.filter($"doc_id" < 10), d, 0L)
    PostingsStore.deleteDocs(spark, d, Seq(3L))
    val stale = VersionedDir.resolveDir(d)
    val served = PostingsStore.bm25TopK(spark, d, terms, k = 20)
    PostingsStore.appendBatch(docs.filter($"doc_id" >= 10 && $"doc_id" < 20), d, 1L)
    PostingsStore.appendBatch(docs.filter($"doc_id" >= 20 && $"doc_id" < 30), d, 2L)
    // two commits on, the reader grace still keeps the old snapshot whole:
    // a serve built before them collects the state it resolved
    assert(served.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      corpusRows(docs.filter($"doc_id" < 10 && $"doc_id" =!= 3L)))
    assert(PostingsStore.readStats(spark, stale).count() == 1L)
    assert(PostingsStore.erasedIds(spark, stale).as[Long].collect().toSeq == Seq(3L))
    // past the grace, the next commit sweeps it
    pastGrace(d)
    PostingsStore.appendBatch(docs.filter($"doc_id" >= 30 && $"doc_id" < 40), d, 3L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stale)))
    Seq[String => Any](PostingsStore.readPostings(spark, _),
      PostingsStore.readStats(spark, _), PostingsStore.readTermMeta(spark, _),
      PostingsStore.readDocIdx(spark, _), PostingsStore.readBlockMeta(spark, _),
      PostingsStore.erasedIds(spark, _)).foreach { read =>
      val e = intercept[IllegalArgumentException](read(stale))
      assert(e.getMessage.contains("is gone"), e.getMessage)
    }
    assert(serveRows(d) == corpusRows(docs.filter($"doc_id" < 40 && $"doc_id" =!= 3L)))
  }

  test("every mutation refuses a flat layout from before snapshot commits, " +
    "leaving its data in place") {
    // a flat store: a layout's data in the root itself, with no _log
    val d = tmp("graft_postings_flat")
    val src = java.nio.file.Paths.get(bulk)
    java.nio.file.Files.walk(src).iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      .forEachRemaining { p =>
        val dst = java.nio.file.Paths.get(d).resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst)
      }
    Seq[() => Any](
      () => PostingsStore.build(docs.limit(10), d),
      () => PostingsStore.appendBatch(docs.filter($"doc_id" === 1L), d, 0L,
        checkDupIds = false),
      () => PostingsStore.deleteDocs(spark, d, Seq(3L)),
      () => PostingsStore.compact(spark, d),
      () => PostingsStore.compactLevel(spark, d, maxBatches = 2)).foreach { m =>
      val e = intercept[IllegalArgumentException](m())
      assert(e.getMessage.contains("flat layout"), e.getMessage)
    }
    assert(version(d) == 0L)
    assert(serveRows(d) == serveRows(bulk))
  }
}
