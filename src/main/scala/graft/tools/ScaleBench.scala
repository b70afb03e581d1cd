package graft.tools

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.SparkEntry
import graft.delivery.HttpPoster
import graft.queue.{Dispatcher, EventLog}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-slope evidence (dev tool, like [[graft.Plans]]): "survives 100×"
  * should be measured, not only argued from plan shapes.
  *
  * Builds 1×/3×/10× `documents` corpora under a scratch root — copy `k`
  * shifts `doc_id` by k·10⁷ and suffixes every TOKEN with `_k`, so each
  * copy reproduces the original's internal near-dup structure without
  * creating any cross-copy collisions: the duplicate RATE stays constant
  * as the corpus grows, as in a real corpus (naive row duplication would
  * instead make every document a 10-way near-dup and quadratically inflate
  * the candidate stage — a measurement artifact, not a scale test). Other
  * tables are symlinked from the base scale factor.
  *
  * Then times the flagship pipelines (MinHash → LSH → Jaccard, clustering,
  * curation) at each scale, and one dispatcher drain cycle at growing
  * queue depth with an in-JVM always-200 poster (so the measurement is the
  * engine's scan/rewrite cost, not network latency). Emits one JSON line
  * per measurement and rewrites `SCALE.md` (which `graft.Plans` embeds
  * into PLANS.md).
  *
  * {{{ sbt "runMain graft.tools.ScaleBench /root/testdata/sf0.1 /tmp/graft-scale SCALE.md" }}}
  */
object ScaleBench {

  private object Always200 extends HttpPoster {
    override def post(url: String, headers: Map[String, String], body: String,
                      timeoutMs: Long): (Int, String) = (200, "ok")
  }

  // embeddings is NOT symlinked: buildScaled writes a k-times copy of it
  // (q97's slope needs the vector relation to actually grow)
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")

  /** Queries whose plan reads persisted SharedStages: for these, warm MUST
    * beat cold (a persisted stage cannot read slower than it recomputes)
    * and colds must grow with the corpus — violations flag host
    * contamination. The stage-less list runs identical work cold and warm
    * (sub-second, fixed-cost dominated at these sizes), so sign-level
    * jitter there is expected and exempt from both tripwires. `queries` is
    * DERIVED from the two lists so a new pipeline cannot silently land
    * outside the tripwires' scope. */
  private val stagedQueryList = Seq("q31_minhash_sigs", "q32_lsh_candidates",
    "q33_jaccard_verify", "q87_jaccard_capped", "q65_dup_clusters",
    "q78_curation_pipeline",
    // q113 rides the shared distinct-shingle stage like q33
    "q113_containment")
  // The store-backed queries are STAGELESS by tripwire design, not by
  // accident: q112's cold (build + 2-list serve) and q115's (store-warm
  // via q112's layoutFor key) are layout-bound — ~fixed seconds at any
  // corpus size, where ±0.3 s scheduler jitter exceeds the 20% band and
  // the cold-monotone check fires on noise (it did, in an r16 run:
  // q112 3x>10x). Their SLOPES live in the ivf_store regime table, which
  // measures build and serve separately; the sweep rows here record the
  // absolute cost only. q114 is sub-second fixed-cost, same category.
  private val stagelessQueryList = Seq("q91_domain_cap", "q92_paragraph_dedup",
    "q97_embedding_outliers", "q99_lm_fluency", "q112_ivf_store",
    "q114_quality_cut", "q115_ivf_batch")
  private val queries = stagedQueryList ++ stagelessQueryList
  private val stagedQueries = stagedQueryList.toSet

  private val queueDepths = Seq(2000, 6000, 20000)

  private val warmupDir = "/root/testdata/sf0.01"

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val root = args.lift(1).getOrElse("/tmp/graft-scale")
    val out = args.lift(2).getOrElse("SCALE.md")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Spark-job counter for the jobs-per-batch evidence in the full-gate
    // regime: every action (probe read, registration write, checkpoint,
    // sink write) starts at least one job, so jobs/batch is the scheduler-
    // level cost of one processBatch call — the number the gate fusion
    // (one per-variant projection + one per-id aggregate instead of one
    // groupBy+join per text gate) is meant to cut.
    val jobCount = new java.util.concurrent.atomic.AtomicLong
    // Shuffle-write bytes: the DETERMINISTIC slope column for the
    // containment decade (wall time is host-noise-bound on a shared box;
    // bytes shuffled by the blocking+verify joins are a property of the
    // data and the plan, reproducible to the byte).
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCount.incrementAndGet()
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            shuffleBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })
    // Listener-bus delivery is asynchronous: a job-start event can land
    // AFTER the action that spawned it returns, so a bare jobCount.get()
    // right after an action can miss that batch's tail events (they would
    // then smear into the NEXT batch's delta). Every per-batch read drains
    // the bus properly (waitUntilEmpty via the org.apache.spark shim —
    // race-free AND faster than the old fixed 100 ms pause); the sleep
    // survives only as the timeout fallback.
    def jobCountDrained(): Long = {
      if (!org.apache.spark.GraftListenerBus.drain(spark.sparkContext, 10000L))
        Thread.sleep(100)
      jobCount.get()
    }
    def shuffleBytesDrained(): Long = {
      if (!org.apache.spark.GraftListenerBus.drain(spark.sparkContext, 10000L))
        Thread.sleep(100)
      shuffleBytes.get()
    }

    val scales = Seq(1, 3, 10)
    // the capped-vs-uncapped crossover pair also runs a 30x step: 10x left
    // q87 at a 3.1x cold slope — one more decade decides whether the capped
    // path's trend is candidate-volume-linear or hides its own superlinear
    // term (the uncapped q33 is the contrast, expected to keep degrading)
    val crossoverQs = Set("q33_jaccard_verify", "q87_jaccard_capped")
    val qScales: String => Seq[Int] =
      q => if (crossoverQs(q)) Seq(1, 3, 10, 30) else scales
    (scales :+ 30).foreach(k => buildScaled(spark, base, s"$root/x$k", k))

    def noop(q: String, dir: String): Unit =
      SparkEntry.queries(q)(spark, dir).write
        .format("noop").mode("overwrite").save()
    // JIT/codegen warmup on a DIFFERENT sf dir, so each xK's first run
    // stays cache-cold for its own dir (shared stages persist per dir;
    // warming up on x1 would hide the stage compute that the slope is
    // supposed to measure)
    queries.foreach(q => noop(q, warmupDir))

    val qRows = for (q <- queries; k <- qScales(q)) yield {
      // isolate the group: drop ALL memoized staging artifacts first, so
      // cold = rebuild every shared stage from parquet (uniform across
      // queries and scales) and no group runs under a neighbor's cache
      // residue — the earlier query-major sweep left q33's 30x stages
      // resident while q87 measured its 1x cold, which both inflated the
      // small-scale colds (eviction) and made "cold" order-dependent
      graft.queries.SharedStages.invalidate(spark)
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); noop(q, s"$root/x$k")
        (System.nanoTime() - t0) / 1e9
      }
      // cold = first run on this dir (includes shared-stage compute +
      // persist); warm = later runs reading the persisted stages
      val (cold, warm) = (ts.head, ts.tail.min)
      println(f"""{"kind":"query","name":"$q","scale":$k,"cold":$cold%.3f,"warm":$warm%.3f}""")
      (q, k, cold, warm)
    }

    // the later regimes measure their own pipelines — don't run them
    // under the last query group's persisted stages either
    graft.queries.SharedStages.invalidate(spark)

    // Eager-agg regime evidence: q68's pre-agg rewrite pays one extra
    // shuffle stage, a fixed cost that loses to the plain q3 plan at 1×
    // and wins once shuffle volume dominates. orders+lineitem scale by
    // key-shifted copies (custkeys unchanged, so the join shape holds).
    val rRows = Seq(1, 10).map { k =>
      val d = if (k == 1) base else { buildScaledRel(spark, base, s"$root/rel-x$k", k); s"$root/rel-x$k" }
      val t3 = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); noop("q3_join_multiway", d)
        (System.nanoTime() - t0) / 1e9 }.min
      val t68 = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); noop("q68_preagg_join", d)
        (System.nanoTime() - t0) / 1e9 }.min
      println(f"""{"kind":"eager_agg","scale":$k,"q3":$t3%.3f,"q68":$t68%.3f}""")
      (k, t3, t68)
    }

    // The pruning claim measured directly: ingest-dedup probe cost for a
    // FIXED 50-doc batch against registries seeded from the 1×/3×/10×
    // corpora. O(batch) pruning predicts a flat line in registry size.
    val pRows = scales.map { k =>
      val docs = spark.read.parquet(s"$root/x$k/documents.parquet")
      val regDir = s"$root/registry-x$k"
      if (!Files.exists(Paths.get(regDir)))
        graft.streaming.IncrementalDedup.seedRegistry(docs, regDir)
      val regRows = graft.streaming.IncrementalDedup
        .readRegistry(spark, regDir).count()
      val batch = docs.filter(col("doc_id") % 100 === 0)
        .limit(50).select(col("doc_id") + 90000000L as "doc_id", col("text"))
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.streaming.IncrementalDedup.processBatch(batch, regDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"kind":"dedup_probe","scale":$k,"registry_rows":$regRows,"sec":$sec%.3f}""")
      (k, regRows, sec)
    }

    // The quota-probe pruning claim measured directly: admission cost for a
    // FIXED 40-doc batch against admitted-set registries seeded from the
    // 1x/3x/10x corpora. O(touched domains) pruning predicts a flat line in
    // registry size — the DomainQuota twin of the dedup-probe table above.
    // (Timing reruns re-admit the same batch as replays — the replay join is
    // part of the measured path, and the appended rows are negligible.)
    val quRows = scales.map { k =>
      val docs = spark.read.parquet(s"$root/x$k/documents.parquet")
      val regDir = s"$root/registry-quota-x$k"
      if (!Files.exists(Paths.get(regDir)))
        graft.streaming.DomainQuota.seedRegistry(docs, regDir)
      val regRows = graft.streaming.DomainQuota.readRegistry(spark, regDir).count()
      val batch = docs.filter(col("doc_id") % 100 === 0).limit(40)
        .select(col("doc_id") + 91000000L as "doc_id", col("source"))
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.streaming.DomainQuota.processBatch(batch, regDir, cap = 1000000)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"kind":"quota_probe","scale":$k,"registry_rows":$regRows,"sec":$sec%.3f}""")
      (k, regRows, sec)
    }

    // The span-removal probe: a FIXED 50-doc batch (corpus docs re-ingested
    // under shifted ids — every block already occurs under its original
    // carrier, so the seen-elsewhere path fires for real) against block-
    // occurrence registries seeded from the 1x/3x/10x corpora. O(touched
    // buckets) pruning predicts a flat line in registry size — the
    // IncrementalSpanDedup twin of the dedup-probe table above.
    val spRows = scales.map { k =>
      val docs = spark.read.parquet(s"$root/x$k/documents.parquet")
      val regDir = s"$root/registry-span-x$k"
      if (!Files.exists(Paths.get(regDir)))
        graft.streaming.IncrementalSpanDedup.seedRegistry(docs, regDir)
      val regRows = graft.streaming.IncrementalSpanDedup
        .readRegistry(spark, regDir).count()
      val batch = docs.filter(col("doc_id") % 100 === 0)
        .limit(50).select(col("doc_id") + 93000000L as "doc_id", col("text"))
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.streaming.IncrementalSpanDedup.processBatch(batch, regDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"kind":"span_probe","scale":$k,"registry_rows":$regRows,"sec":$sec%.3f}""")
      (k, regRows, sec)
    }

    // The containment probe: a FIXED 25-doc batch (corpus docs re-ingested
    // under shifted ids — every shingle already occurs under its original
    // carrier, so the cross-history pair path fires for real) against
    // shingle-occurrence registries seeded from the 1x/3x/10x corpora.
    // The 25-doc batch carries ~1.2k distinct fingerprints, inside the
    // probeKeyLimit, so it takes the KEY-PRUNED path: a pushed
    // In(shingle_md5, ...) over files sorted by fingerprint — row groups
    // whose key range misses every eq leaf skip on footer stats, so scan
    // I/O is O(matched postings + footers), not O(registry). At these
    // toy registry sizes each bucket file is a single row group and most
    // buckets carry a match, so the visible line is near-flat with a
    // footer-dominated intercept rather than a byte cliff; the row-group
    // tier is what holds the bound once compacted bucket files span many
    // groups (production block sizes). The table publishes the measured
    // line either way.
    val coRows = scales.map { k =>
      val docs = spark.read.parquet(s"$root/x$k/documents.parquet")
      val regDir = s"$root/registry-cont-x$k"
      if (!Files.exists(Paths.get(regDir)))
        graft.streaming.IncrementalContainment.seedRegistry(docs, regDir)
      val regRows = graft.streaming.IncrementalContainment
        .readRegistry(spark, regDir).count()
      val batch = docs.filter(col("doc_id") % 200 === 0)
        .limit(25).select(col("doc_id") + 95000000L as "doc_id", col("text"))
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.streaming.IncrementalContainment.processBatch(batch, regDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"kind":"cont_probe","scale":$k,"registry_rows":$regRows,"sec":$sec%.3f}""")
      (k, regRows, sec)
    }

    // The corpus-accounting probe: a FIXED 50-doc batch (fresh ids, so the
    // append path runs) against accounting registries seeded from the
    // 1x/3x/10x corpora. O(touched sbuckets) pruning predicts a flat line —
    // the CorpusStats twin of the quota-probe table above (same registry
    // layout; the replay join and per-cell prior aggregation both run over
    // the pruned subset only).
    val stRows = scales.map { k =>
      val docs = spark.read.parquet(s"$root/x$k/documents.parquet")
      val regDir = s"$root/registry-cstats-x$k"
      if (!Files.exists(Paths.get(regDir)))
        graft.streaming.CorpusStats.seedRegistry(docs, regDir)
      val regRows = graft.streaming.CorpusStats.readRegistry(spark, regDir).count()
      val batch = docs.filter(col("doc_id") % 100 === 0).limit(50)
        .select(col("doc_id") + 94000000L as "doc_id", col("source"),
          col("lang"), col("n_chars"))
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.streaming.CorpusStats.processBatch(batch, regDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"kind":"stats_probe","scale":$k,"registry_rows":$regRows,"sec":$sec%.3f}""")
      (k, regRows, sec)
    }

    // The quality-cut probe: a FIXED 50-doc batch (fresh ids, so append +
    // rollup merge run) against scored registries seeded from the
    // 1x/3x/10x corpora. The cutoff recompute reads the O(strata)
    // histogram rollup and the registry probe prunes to touched sbuckets
    // — near-flat prediction, the IncrementalQualityCut twin of the
    // stats-probe table above (same sbucket layout and replay join).
    val qcRows = scales.map { k =>
      val docs = spark.read.parquet(s"$root/x$k/documents.parquet")
        .select(col("doc_id"), col("source"),
          graft.streaming.IncrementalQualityCut
            .distinctTokenScore(col("text")).as("score"))
      val regDir = s"$root/registry-qcut-x$k"
      if (!Files.exists(Paths.get(regDir)))
        graft.streaming.IncrementalQualityCut.seedRegistry(docs, regDir)
      val regRows = graft.streaming.IncrementalQualityCut
        .readRegistry(spark, regDir).count()
      val batch = docs.filter(col("doc_id") % 100 === 0).limit(50)
        .select(col("doc_id") + 96000000L as "doc_id", col("source"), col("score"))
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.streaming.IncrementalQualityCut.processBatch(batch, regDir, frac = 0.4)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"kind":"qcut_probe","scale":$k,"registry_rows":$regRows,"sec":$sec%.3f}""")
      (k, regRows, sec)
    }

    // The MixBalance rate pull measured directly: O(strata) via the
    // compacted per-cell rollup vs the doc-grained registry scan it
    // replaced (the one O(corpus)-per-tick plan the r11 verdict flagged).
    // Rollup prediction: flat in registry size; the scan column is the
    // contrast and grows with the registry.
    val mxTargets = Map("en" -> 400000L, "fr" -> 300000L, "de" -> 300000L)
    val mrRows = scales.map { k =>
      val regDir = s"$root/registry-cstats-x$k" // seeded + adopted above
      if (graft.streaming.CorpusStats.readRollup(spark, regDir).isEmpty)
        graft.streaming.CorpusStats.rebuildRollup(spark, regDir)
      val regRows = graft.streaming.CorpusStats.readRegistry(spark, regDir).count()
      val rollupSec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.streaming.MixBalance.rates(spark, regDir, mxTargets)
        (System.nanoTime() - t0) / 1e9
      }.min
      val scanSec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.streaming.CorpusStats.readRegistry(spark, regDir)
          .select(col("source"), col("lang"), col("doc_id"), col("n_chars"))
          .distinct().groupBy(col("lang"))
          .agg(sum(col("n_chars")).as("mass")).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"kind":"mix_rates","scale":$k,"registry_rows":$regRows,"rollup_sec":$rollupSec%.3f,"scan_sec":$scanSec%.3f}""")
      (k, regRows, rollupSec, scanSec)
    }

    // The COMPOSED ingest-curation gate under sustained load: dedup probe +
    // quality + language verdicts + registration + the in-gate compaction
    // cadence, >=50 micro-batches against registries seeded from the
    // 1x/3x/10x corpora. O(batch) prediction: docs/sec flat in BOTH the
    // registry size (pruned probe) and the batch count (compaction holding
    // file counts down). Fresh registry per run so reruns measure the same
    // thing.
    // the gate regimes localCheckpoint per batch (the operators' own
    // discipline); those blocks are only reclaimed by GC, and 50+ batches
    // per scale of dead checkpoint blocks measurably tax the NEXT scale's
    // run in this long-lived bench JVM — drop them between scale groups so
    // each group measures the engine, not the harness's residue
    def dropDeadBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    val icRows = scales.map { k =>
      import spark.implicits._
      dropDeadBlocks()
      val regDir = s"$root/registry-icur-x$k"
      val rp = Paths.get(regDir)
      graft.queue.Maintenance.deleteRec(rp)
      val docs = spark.read.parquet(s"$root/x$k/documents.parquet")
      graft.streaming.IncrementalDedup.seedRegistry(docs, regDir)
      val regRows = graft.streaming.IncrementalDedup
        .readRegistry(spark, regDir).count()
      val batches = 50
      val secs = (0 until batches).map { b =>
        val batch = spark.range(25).map { i =>
          val id = 95000000L + b * 25L + i
          (id, (1 to 8).map(w => s"tok${id}w$w").mkString(" "))
        }.toDF("doc_id", "text")
        val t0 = System.nanoTime()
        graft.streaming.IngestCuration.processBatch(batch, regDir)
          .write.format("noop").mode("overwrite").save()
        if ((b + 1) % 15 == 0)
          graft.queue.Maintenance.compactParquet(spark, regDir,
            partitionCols = Seq("band", "bucket"))
        (System.nanoTime() - t0) / 1e9
      }
      val first = secs.slice(5, 15).sum / 10
      val last = secs.takeRight(10).sum / 10
      val dps = 25.0 * batches / secs.sum
      println(f"""{"kind":"ingest_curation","scale":$k,"registry_rows":$regRows,"batches":$batches,"gate_first10":$first%.3f,"gate_last10":$last%.3f,"docs_per_sec":$dps%.2f}""")
      (k, regRows, first, last, dps)
    }

    // The FULL composed gate: dedup + quality + language + domain quota +
    // trained classifier + mix-aware admission + lexical decontamination,
    // 50 sustained micro-batches against registries seeded from the
    // 1x/3x/10x corpora. O(batch) prediction: docs/sec flat vs registry
    // size — the mix rate pull rides the O(strata) rollup, so turning the
    // full gate on must not re-introduce a per-batch corpus scan.
    val clfWeights = graft.operators.QualityClassifier.fit(
      spark.read.parquet(s"$base/documents.parquet")
        .filter(col("source") === "src0"))
    val fgRows = scales.map { k =>
      import spark.implicits._
      dropDeadBlocks()
      // (re)built AFTER the block drop — a localCheckpointed relation
      // created outside the loop would lose its blocks to the cleanup and
      // cannot recompute
      val fgBench = graft.operators.Dedup.shingles(
          spark.createDataFrame(Seq(
            (1L, "the held out benchmark suite must never leak into training"),
            (2L, "every answer key sentence of the evaluation set lives here"),
            (3L, "a third benchmark passage keeps the shingle set honest")))
            .toDF("doc_id", "text"))
        .select(col("shingle")).distinct().localCheckpoint(true)
      val regDir = s"$root/registry-full-x$k"
      val quotaDir = s"$root/registry-full-quota-x$k"
      val mixDir = s"$root/registry-full-mix-x$k"
      Seq(regDir, quotaDir, mixDir, mixDir + "_rollup")
        .foreach(d => graft.queue.Maintenance.deleteRec(Paths.get(d)))
      val docs = spark.read.parquet(s"$root/x$k/documents.parquet")
      graft.streaming.IncrementalDedup.seedRegistry(docs, regDir)
      graft.streaming.DomainQuota.seedRegistry(docs, quotaDir)
      graft.streaming.CorpusStats.seedRegistry(docs, mixDir)
      graft.streaming.CorpusStats.rebuildRollup(spark, mixDir)
      val regRows = graft.streaming.IncrementalDedup
        .readRegistry(spark, regDir).count()
      val batches = 50
      val secsJobs = (0 until batches).map { b =>
        val batch = spark.range(25).map { i =>
          val id = 96000000L + b * 25L + i
          (id, (1 to 8).map(w => s"tok${id}w$w").mkString(" "), s"dom${id % 7}")
        }.toDF("doc_id", "text", "source")
        val j0 = jobCountDrained()
        val t0 = System.nanoTime()
        graft.streaming.IngestCuration.processBatch(batch, regDir,
            quotaRegistryDir = Some(quotaDir), quotaCap = 1000000,
            qualityModel = Some(clfWeights), minQualityScore = -1e9,
            mixRegistryDir = Some(mixDir),
            mixTargetPpm = Map("en" -> 600000L, "fr" -> 200000L, "es" -> 200000L),
            benchShingles = Some(fgBench))
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val nJobs = jobCountDrained() - j0 // gate only — before the compact tick
        if ((b + 1) % 15 == 0)
          graft.queue.Maintenance.compactParquet(spark, regDir,
            partitionCols = Seq("band", "bucket"))
        (sec, nJobs)
      }
      val secs = secsJobs.map(_._1)
      val first = secs.slice(5, 15).sum / 10
      val last = secs.takeRight(10).sum / 10
      val dps = 25.0 * batches / secs.sum
      // steady-state jobs/batch (skip the 5 warmup batches — first-touch
      // registry partitions and broadcast builds inflate them)
      val jpb = secsJobs.drop(5).map(_._2).sum.toDouble / (batches - 5)
      println(f"""{"kind":"full_gate","scale":$k,"registry_rows":$regRows,"batches":$batches,"gate_first10":$first%.3f,"gate_last10":$last%.3f,"docs_per_sec":$dps%.2f,"jobs_per_batch":$jpb%.1f}""")
      (k, regRows, first, last, dps, jpb)
    }

    // Mega-bucket regime: the xK corpora deliberately avoid cross-copy
    // bucket growth (constant dup rate), so Σ bucket² stays ~linear there
    // and q33's slope only reflects candidate volume. This scenario builds
    // the hostile case a boilerplate-heavy corpus creates: ONE template
    // bucket growing WITH the corpus (400·k identical-boilerplate docs)
    // beside 100·k true near-dup pairs with pair-local vocabulary. The
    // uncapped candidate count is computed arithmetically from the bucket
    // histogram (materializing it IS the blow-up being avoided); the capped
    // verify pipeline is run for real and must stay ~linear in k with full
    // recall on the true pairs.
    val bRows = (scales :+ 30).map { k =>
      import spark.implicits._
      val nBoiler = 400 * k
      val nPairs = 100 * k
      val boiler = "terms of service apply to all pages on this site " +
        "please read carefully before proceeding further thank you very much"
      val docs = spark.range(nBoiler.toLong).map(i => (i, boiler))
        .toDF("doc_id", "text")
        .unionByName(spark.range(nPairs.toLong).flatMap { p =>
          val base = (1 to 12).map(w => s"p${p}w$w").mkString(" ")
          val twin = (1 to 12).map(w =>
            if (w == 12) s"p${p}x" else s"p${p}w$w").mkString(" ")
          Seq((1000000L + 2 * p, base), (1000001L + 2 * p, twin))
        }.toDF("doc_id", "text"))
        .localCheckpoint(true)
      val sigs = graft.operators.Dedup
        .minhashSignatures(graft.operators.Dedup.shingles(docs), bands = 4)
        .localCheckpoint(true)
      val uncappedPairs = sigs.groupBy($"band", $"minhash").count()
        .agg(sum(($"count" * ($"count" - 1) / 2).cast("long")).as("p"))
        .head().getLong(0)
      val sec = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val (pairs, _) = graft.operators.Dedup.lshCandidatesCapped(sigs, 32)
        graft.operators.Dedup.jaccardVerify(pairs, graft.operators.Dedup.shingles(docs))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      val (pairs, _) = graft.operators.Dedup.lshCandidatesCapped(sigs, 32)
      val capped = pairs.as[(Long, Long)].collect().toSet
      val truth = (0 until nPairs).map(p => (1000000L + 2 * p, 1000001L + 2 * p)).toSet
      val recall = truth.count(capped).toDouble / truth.size
      println(f"""{"kind":"mega_bucket","scale":$k,"docs":${nBoiler + 2 * nPairs},"uncapped_pairs":$uncappedPairs,"capped_pairs":${capped.size},"recall":$recall%.3f,"capped_verify_sec":$sec%.3f}""")
      (k, nBoiler + 2 * nPairs, uncappedPairs, capped.size.toLong, recall, sec)
    }

    // Containment blocking regime (q113's substrate): the df ≤ 8 cap on
    // the per-shingle self-join is what keeps candidate volume linear —
    // the UNBLOCKED pair count (every pair sharing ANY shingle,
    // Σ df·(df−1)/2 over the full document-frequency histogram) is
    // computed arithmetically from the histogram, never materialized,
    // exactly the mega-bucket discipline.
    // runs the same 30x decade as the capped-Jaccard crossover: the Σdf²
    // linearity argument deserves the same falsification attempt — one
    // more decade separates fixed-cost from a hidden superlinear term
    val contRows = (scales :+ 30).map { k =>
      graft.queries.SharedStages.invalidate(spark)
      val docs = spark.read.parquet(s"$root/x$k/documents.parquet")
      val dsh = graft.operators.Dedup.shingles(docs).distinct()
        .localCheckpoint(true)
      val unblocked = dsh.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df"))
        .agg(sum((col("df") * (col("df") - 1) / 2).cast("long")))
        .head().getLong(0)
      val sb0 = shuffleBytesDrained()
      val t0 = System.nanoTime()
      val cand = graft.operators.Dedup
        .rareShingleCandidates(dsh,
          maxDf = graft.queries.SharedStages.ContainmentMaxDf, preDistincted = true)
        .localCheckpoint(true)
      val nCand = cand.count()
      val nPairs06 = graft.operators.Dedup
        .containmentVerify(cand, dsh, preDistincted = true)
        .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm")) >= 600000L)
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      val sbytes = shuffleBytesDrained() - sb0
      println(f"""{"kind":"containment","scale":$k,"unblocked_pairs":$unblocked,"candidates":$nCand,"pairs_ge_06":$nPairs06,"shuffle_bytes":$sbytes,"block_verify_sec":$sec%.3f}""")
      (k, unblocked, nCand, nPairs06, sec, sbytes)
    }

    // Cluster-chain regime: connected components' worst case is not a
    // dense blob but a CHAIN — plain min-label propagation needs diameter
    // rounds, and the ORGANIC sf0.1 embedding graph already carries a
    // 20-round chain (it converged exactly AT the loop's old cap). The
    // star-contraction rewrite's O(log²) claim is measured here directly:
    // explicit shuffled-id paths (position = md5 rank, so min-labels never
    // ride chain order) of growing length, recording the CONFIRMED
    // convergence rounds and wall time. Log prediction: rounds grow by ~a
    // constant per decade of chain length.
    val cRows = Seq(1000, 10000, 100000).map { n =>
      import org.apache.spark.sql.expressions.Window
      val ranked = spark.range(n)
        .select(col("id"), md5(col("id").cast("string")).as("h"))
      val chainPairs = ranked
        .select(col("id").as("doc_a"),
          lead("id", 1).over(Window.orderBy("h")).as("doc_b"))
        .filter(col("doc_b").isNotNull)
        .localCheckpoint(true)
      val docs = spark.range(n).select(col("id").as("doc_id"))
      val t0 = System.nanoTime()
      val (labels, rounds) = graft.operators.Dedup
        .clusterPairsWithRounds(docs, chainPairs)
      val nClusters = labels.select("cluster_rep").distinct().count()
      val sec = (System.nanoTime() - t0) / 1e9
      require(nClusters == 1, s"a path must contract to ONE component, got $nClusters")
      println(f"""{"kind":"cluster_chain","n":$n,"rounds":$rounds,"sec":$sec%.3f}""")
      (n, rounds, sec)
    }

    // Variant layout vs query-time decode: q103's aggregation over (a) the
    // raw feed with try_parse_json in the plan vs (b) the persisted
    // VariantEventStore layout (decode paid once at write). The delta is
    // the per-query JSON parse a repeat-query pipeline saves; write cost
    // is reported beside it so the break-even (#queries) is readable.
    val vRows = locally {
      val vDir = s"$root/variant-events"
      val t0w = System.nanoTime()
      graft.sources.VariantEventStore.write(
        graft.Tables.events(spark, base), vDir)
      val writeSec = (System.nanoTime() - t0w) / 1e9
      def time(f: => Unit): Double = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
      val parseSec = time {
        graft.queries.EventQueries.variantProps(spark, base)
          .write.format("noop").mode("overwrite").save()
      }
      val layoutSec = time {
        graft.sources.VariantEventStore.propsAgg(
            graft.sources.VariantEventStore.read(spark, vDir))
          .write.format("noop").mode("overwrite").save()
      }
      println(f"""{"kind":"variant_layout","write_sec":$writeSec%.3f,"parse_per_query_sec":$parseSec%.3f,"layout_sec":$layoutSec%.3f}""")
      (writeSec, parseSec, layoutSec)
    }

    // The ORGANIC embedding graph (q88's substrate at this SF — the graph
    // that carries the 20-round chain motivating star contraction): rounds,
    // wall time, and a REAL correctness invariant — every edge's two
    // endpoints must land in the same cluster (label totality alone is
    // vacuous: the label read is a left join with a self-label coalesce, so
    // a count can never differ). This regime replaced the assertion-free
    // CcProbeSpec that used to run the same probe inside `sbt test`.
    val ccOrganic = {
      val pairs = graft.queries.SharedStages.nearDupPairs(spark, base)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        .localCheckpoint(true)
      val edges = pairs.count()
      val docs = graft.Tables.embeddings(spark, base)
        .select(col("vec_id").as("doc_id"))
      val t0 = System.nanoTime()
      val (labels, rounds) = graft.operators.Dedup
        .clusterPairsWithRounds(docs, pairs, "doc_id")
      val lbl = labels.localCheckpoint(true)
      val nDocs = lbl.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val split = pairs
        .join(lbl.select(col("doc_id").as("doc_a"), col("cluster_rep").as("rep_a")), "doc_a")
        .join(lbl.select(col("doc_id").as("doc_b"), col("cluster_rep").as("rep_b")), "doc_b")
        .filter(col("rep_a") =!= col("rep_b")).count()
      require(split == 0,
        s"$split edges straddle clusters — the contraction returned a non-fixpoint")
      println(f"""{"kind":"cc_organic","edges":$edges,"docs":$nDocs,"rounds":$rounds,"sec":$sec%.3f}""")
      (edges, nDocs, rounds, sec)
    }

    // Batched k-NN amortization: the knnJoin claim is that a query BATCH
    // costs one corpus pass regardless of batch size (broadcast queries,
    // bounded top-k aggregation) — versus Q independent topK scans. Fixed
    // corpus (the base embeddings), growing batch: per-query cost must
    // COLLAPSE while the single-query loop extrapolates linearly in Q.
    val kRows = Seq(10, 100, 1000).map { nq =>
      import org.apache.spark.sql.functions.col
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
      // spread the batch across the id range with a modulus sized to the
      // corpus (a fixed %17 capped the batch at corpus/17 — 118 on this
      // corpus — silently dropping the 1000-query amortization point)
      val modulus = math.max(1L, emb.count() / nq)
      val queries = emb.filter(col("vec_id") % modulus === 0).limit(nq)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        .localCheckpoint(true)
      // the per-query math divides by the ACTUAL batch size: if the
      // modulus stride still yields fewer than nq rows, dividing by nq
      // would overstate the amortization
      val actualNq = queries.count()
      val batchSec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.operators.Similarity.knnJoin(emb, queries, k = 10)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      // the alternative: one topK scan per query — measured once and
      // extrapolated (running 1000 scans for real is the point being avoided)
      val singleSec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.operators.Similarity.topK(emb, queryId = 0L, k = 10)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"kind":"knn_batch","n_queries":$actualNq,"batch_sec":$batchSec%.3f,"per_query_ms":${batchSec * 1000 / actualNq}%.2f,"single_scan_sec":$singleSec%.3f}""")
      (actualNq.toInt, batchSec, batchSec * 1000 / actualNq, singleSec)
    }

    // IVF quality-vs-cost curve: recall@10 against brute force as nprobe
    // widens, under a TRAINED codebook (Lloyd on a half hash-sample — the
    // 100 TB recipe) at this SF. The point of publishing the curve: nprobe
    // is the knob a user actually turns, and the engine's claim is that
    // the probed scan reads ~nprobe/nlist of the corpus while recall
    // climbs to exact at nprobe = nlist.
    val ivfRows = locally {
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
        .localCheckpoint(true)
      val nlist = 16
      val trained = graft.operators.Similarity
        .ivfTrain(emb, nlist = nlist, iters = 3, trainFraction = 0.5)
        .localCheckpoint(true)
      val n = emb.count()
      val qids = emb.filter(col("vec_id") % math.max(1L, n / 8) === 0)
        .select(col("vec_id")).limit(8)
        .collect().map(_.getLong(0)).toSeq
      val brute = qids.map { qid =>
        qid -> graft.operators.Similarity.topK(emb, qid, k = 10)
          .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      }.toMap
      Seq(1, 2, 4, 8, 16).map { np =>
        val t0 = System.nanoTime()
        val rs = qids.map { qid =>
          val ivf = graft.operators.Similarity.ivfTopK(emb, qid, k = 10,
              nlist = nlist, nprobe = np, codebook = Some(trained))
            .select(col("vec_id")).collect().map(_.getLong(0)).toSet
          (brute(qid) & ivf).size.toDouble / brute(qid).size
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = rs.sum / rs.size
        println(f"""{"kind":"ivf_recall","nprobe":$np,"nlist":$nlist,"recall_at_10":$recall%.3f,"sec_all_queries":$sec%.3f}""")
        (np, recall, sec)
      }
    }

    // Persisted IVF index store (q112's substrate): build cost must scale
    // with the corpus; serve cost with nprobe/nlist of it. Build at 1x and
    // 10x embeddings, then serve 8 queries from the store (nprobe=2 of
    // nlist=16) against the brute full-scan top-k over the same on-disk
    // corpus. Wall times at local scale are fixed-cost dominated, so the
    // honest I/O measure rides beside them: the parquet FILES each path
    // reads (probed list dirs vs every list dir — the layout's bound).
    val storeRows = Seq(1, 10).map { k =>
      import spark.implicits._
      val embPath = s"$root/x$k/embeddings.parquet"
      val embDisk = spark.read.parquet(embPath)
      val dir = s"$root/ivf-store-x$k"
      graft.queue.Maintenance.deleteRec(Paths.get(dir))
      val t0 = System.nanoTime()
      graft.sources.IvfIndexStore.build(embDisk, dir, nlist = 16)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val qvecs = embDisk.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      def listFiles(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles.map(listFiles).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      val snap = graft.queue.VersionedDir.resolveDir(dir)
      val totalFiles = new java.io.File(snap).listFiles
        .filter(_.getName.startsWith("centroid_id=")).map(listFiles).sum
      val probedFiles = qvecs.map { case (_, v) =>
        graft.sources.IvfIndexStore.probeLists(spark, dir, v, nprobe = 2)
          .map(p => listFiles(new java.io.File(snap, s"centroid_id=$p"))).sum
      }.sum / qvecs.size
      val t1 = System.nanoTime()
      qvecs.foreach { case (_, v) =>
        graft.sources.IvfIndexStore.topK(spark, dir, v, k = 10, nprobe = 2)
          .collect()
      }
      val serveSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      qvecs.foreach { case (qid, _) =>
        graft.operators.Similarity.topK(embDisk, qid, k = 10).collect()
      }
      val bruteSec = (System.nanoTime() - t2) / 1e9
      println(f"""{"kind":"ivf_store","scale":$k,"build_sec":$buildSec%.3f,"serve_sec_8q":$serveSec%.3f,"brute_sec_8q":$bruteSec%.3f,"probed_files_per_q":$probedFiles,"total_list_files":$totalFiles}""")
      (k, buildSec, serveSec, bruteSec, probedFiles, totalFiles)
    }

    // Store-MAINTENANCE regime (q122's delete + the blue/green rebuild):
    // delete-by-id touches ≤ |ids| leaves, but a leaf's rewrite is
    // proportional to its size — a bulk-built store has corpus/nlist-sized
    // leaves, so delete wall tracks leaf bytes while the leaf COUNT stays
    // pinned by |ids| (both columns published). The rebuild wall is the
    // offline corpus pass (linear by design); its reader-visible cost is
    // zero by construction (manifest flip — IvfStoreRebuildSpec hammers a
    // live reader across it), so only the wall is measured here.
    val maintRows = Seq(1, 10).map { k =>
      import spark.implicits._
      val embDisk = spark.read.parquet(s"$root/x$k/embeddings.parquet")
      val dir = s"$root/ivf-maint-x$k"
      graft.queue.Maintenance.deleteRec(Paths.get(dir))
      graft.sources.IvfIndexStore.build(embDisk, dir, nlist = 16)
      // 5 fixed ids, none below nlist (the default codebook seeds stay)
      val ids = embDisk.filter(col("vec_id") % 400 === 203)
        .select(col("vec_id")).as[Long].collect().toSeq.sorted.take(5)
      val leaves = spark.read.parquet(graft.queue.VersionedDir.resolveDir(dir))
        .filter(col("vec_id").isin(ids: _*))
        .select(col("centroid_id")).distinct().count()
      val t0 = System.nanoTime()
      val removed = graft.sources.IvfIndexStore.delete(spark, dir, ids)
      val delSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      graft.sources.IvfIndexStore.rebuild(
        embDisk.filter(!col("vec_id").isin(ids: _*)), dir, nlist = 16)
      val rebuildSec = (System.nanoTime() - t1) / 1e9
      println(f"""{"kind":"ivf_maint","scale":$k,"n_ids":${ids.size},"removed":$removed,"leaves_rewritten":$leaves,"delete_sec":$delSec%.3f,"rebuild_sec":$rebuildSec%.3f}""")
      (k, ids.size, removed, leaves, delSec, rebuildSec)
    }

    // Persisted postings store regime (q126's substrate): the sparse
    // serving twin. Build at 1x and 10x documents, then serve the
    // battery's 3-term BM25 from the store vs the from-corpus scorer
    // over the same on-disk corpus. The scaled copies suffix every
    // token (buildScaled), so the query terms match only the base copy:
    // matched postings stay FIXED while the store grows 10x — the
    // registry-probe experiment (cont_probe's), with the layout bound
    // published beside the wall: the probe reads <= |term buckets| of
    // 256 bucket dirs. Erasure (doc-keyed locate through _docidx; one
    // batched rewrite of the touched leaves per batch) and the
    // compaction fold ride beside as the maintenance faces.
    val postingsRows = Seq(1, 10).map { k =>
      import spark.implicits._
      val docsDisk = spark.read.parquet(s"$root/x$k/documents.parquet")
      val dir = s"$root/postings-x$k"
      graft.queue.Maintenance.deleteRec(Paths.get(dir))
      val t0 = System.nanoTime()
      graft.sources.PostingsStore.build(docsDisk, dir)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val terms = Seq("dup", "vector", "merge")
      def countFiles(f: java.io.File): Int =
        if (f.isDirectory) {
          val kids = f.listFiles
          if (kids == null) 0 else kids.map(countFiles).sum
        } else if (f.getName.endsWith(".parquet")) 1 else 0
      val batchDirs = new java.io.File(graft.queue.VersionedDir.resolveDir(dir)).listFiles
        .filter(_.getName.startsWith("ingest_batch="))
      val totalFiles = batchDirs.map(countFiles).sum
      val probedBuckets =
        terms.map(graft.sources.PostingsStore.bucketOf).distinct
      val probedFiles = batchDirs.map(bd => probedBuckets.map(b =>
        countFiles(new java.io.File(bd, s"tbucket=$b"))).sum).sum
      val t1 = System.nanoTime()
      (1 to 3).foreach(_ => graft.sources.PostingsStore
        .bm25TopK(spark, dir, terms, k = 20).collect())
      val serveSec = (System.nanoTime() - t1) / 1e9 / 3
      val t2 = System.nanoTime()
      (1 to 3).foreach(_ => graft.operators.Retrieval
        .bm25TopK(docsDisk, terms, k = 20).collect())
      val corpusSec = (System.nanoTime() - t2) / 1e9 / 3
      val ids = docsDisk.filter(col("doc_id") % 997 === 3)
        .select(col("doc_id").cast("long")).as[Long].collect().toSeq
      val t3 = System.nanoTime()
      val removed = graft.sources.PostingsStore.deleteDocs(spark, dir, ids)
      val delSec = (System.nanoTime() - t3) / 1e9
      val t4 = System.nanoTime()
      graft.sources.PostingsStore.compact(spark, dir)
      val compactSec = (System.nanoTime() - t4) / 1e9
      // TAKEDOWN-BATCH throughput: a real GDPR batch is hundreds to
      // thousands of ids, not single digits — erase doc_id % 100 = 7
      // (50 ids at 1x, 500 at 10x) against the compacted store, so the
      // ids->wall slope of the leaf rewrite is a measured row
      // instead of an extrapolation from the 6-id case
      val bulkIds = docsDisk.filter(col("doc_id") % 100 === 7)
        .select(col("doc_id").cast("long")).as[Long].collect().toSeq
      val t5 = System.nanoTime()
      val bulkRemoved = graft.sources.PostingsStore.deleteDocs(spark, dir, bulkIds)
      val bulkSec = (System.nanoTime() - t5) / 1e9
      println(f"""{"kind":"postings","scale":$k,"build_sec":$buildSec%.3f,"serve_sec":$serveSec%.3f,"corpus_bm25_sec":$corpusSec%.3f,"probed_files":$probedFiles,"total_files":$totalFiles,"erase_ids":${ids.size},"erase_rows":$removed,"erase_sec":$delSec%.3f,"compact_sec":$compactSec%.3f,"bulk_erase_ids":${bulkIds.size},"bulk_erase_rows":$bulkRemoved,"bulk_erase_sec":$bulkSec%.3f}""")
      (k, buildSec, serveSec, corpusSec, probedFiles, totalFiles,
        ids.size, removed, delSec, compactSec, bulkIds.size, bulkRemoved, bulkSec)
    }

    // IVF-PQ store regime (q118's substrate): the PQ claim is a BYTES
    // claim — the ADC pass column-prunes to (vec_id, codes), ~32× narrower
    // than the float32[64] vectors. File counts cannot see it (codes and
    // vectors share the list files), and task inputMetrics at this corpus
    // size measure footer/codebook traffic, not data pages — so the
    // instrument is the LAYOUT itself: the parquet column-chunk bytes of
    // the probed lists, per column set each serving path scans (read
    // straight from the footers; this is the term that multiplies by
    // corpus size, and IvfPqStoreSpec pins that each path's ReadSchema
    // actually restricts to exactly these columns).
    def chunkBytes(f: java.io.File, cols: Set[String]): Long = {
      import scala.jdk.CollectionConverters._
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath),
        spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala)
        .filter(c => cols.contains(c.getPath.toDotString.split('.').head))
        .map(_.getTotalSize).sum
      finally r.close()
    }
    val pqStoreRows = Seq(1, 10).map { k =>
      import spark.implicits._
      val embDisk = spark.read.parquet(s"$root/x$k/embeddings.parquet")
      val dir = s"$root/ivfpq-store-x$k"
      graft.queue.Maintenance.deleteRec(Paths.get(dir))
      val cbq = graft.operators.ProductQuantizer.train(
        embDisk, m = 8, ksub = 16, iters = 0)
      val t0 = System.nanoTime()
      graft.sources.IvfIndexStore.build(embDisk, dir, nlist = 16, pq = Some(cbq))
      val buildSec = (System.nanoTime() - t0) / 1e9
      val qvecs = embDisk.filter(col("vec_id") < 8)
        .select(col("embedding")).as[Seq[Float]].collect().toSeq
      // raw-vector serving from the PQ store (same lists, wide column)
      val t1 = System.nanoTime()
      qvecs.foreach(v => graft.sources.IvfIndexStore
        .topK(spark, dir, v, k = 10, nprobe = 2).collect())
      val rawSec = (System.nanoTime() - t1) / 1e9
      // ADC + pushed exact rescore
      val t2 = System.nanoTime()
      qvecs.foreach(v => graft.sources.IvfIndexStore
        .adcTopK(spark, dir, v, k = 10, nprobe = 2, refine = 4).collect())
      val adcSec = (System.nanoTime() - t2) / 1e9
      // per query: Σ over its probed lists' files of the chunks each path
      // scans — (vec_id, embedding) for raw topK, (vec_id, codes) for ADC
      def listFilesOf(p: Long): Seq[java.io.File] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
          else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
        walk(new java.io.File(graft.queue.VersionedDir.resolveDir(dir), s"centroid_id=$p"))
      }
      val perQuery = qvecs.map { v =>
        val files = graft.sources.IvfIndexStore
          .probeLists(spark, dir, v, nprobe = 2).flatMap(listFilesOf)
        (files.map(chunkBytes(_, Set("vec_id", "embedding"))).sum,
          files.map(chunkBytes(_, Set("vec_id", "codes"))).sum)
      }
      val rawBytes = perQuery.map(_._1).sum / perQuery.size
      val adcBytes = perQuery.map(_._2).sum / perQuery.size
      println(f"""{"kind":"ivfpq_store","scale":$k,"build_sec":$buildSec%.3f,"raw_serve_sec_8q":$rawSec%.3f,"adc_serve_sec_8q":$adcSec%.3f,"raw_scan_bytes_per_q":$rawBytes,"adc_scan_bytes_per_q":$adcBytes}""")
      (k, buildSec, rawSec, adcSec, rawBytes, adcBytes)
    }

    // PQ recall knob (the ivf_recall instrument's ADC twin): within the
    // SAME probed lists, how much of the exact probed top-10 does the
    // ADC-then-rescore path recover as `refine` grows? Exact probed serve
    // (topK) is the reference — this isolates the PQ approximation from
    // the probe-selection loss that ivf_recall already measures.
    val pqRecallRows = locally {
      import spark.implicits._
      val dir = s"$root/ivfpq-store-x1"
      val embDisk = spark.read.parquet(s"$root/x1/embeddings.parquet")
      val qvecs = embDisk.filter(col("vec_id") < 8)
        .select(col("embedding")).as[Seq[Float]].collect().toSeq
      val exact = qvecs.map { v =>
        graft.sources.IvfIndexStore.topK(spark, dir, v, k = 10, nprobe = 2)
          .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      }
      Seq(1, 2, 4, 8).map { refine =>
        val rs = qvecs.zip(exact).map { case (v, ex) =>
          val got = graft.sources.IvfIndexStore
            .adcTopK(spark, dir, v, k = 10, nprobe = 2, refine = refine)
            .select(col("vec_id")).collect().map(_.getLong(0)).toSet
          (ex & got).size.toDouble / ex.size
        }
        val recall = rs.sum / rs.size
        println(f"""{"kind":"ivfpq_recall","refine":$refine,"recall_at_10_vs_exact_probed":$recall%.3f}""")
        (refine, recall)
      }
    }

    // TIERED-SERVE regime (q130's substrate): the common-term bound made a
    // line. The suffixed xK corpora keep query-term df FIXED by design, so
    // this regime builds its own corpus of K UNSUFFIXED copies (shifted
    // ids): df("the") grows Kx for real. Exact serving reads O(df)
    // postings of the stop word; the tiered serve reads tier 0 only —
    // bounded by the layout no matter the df — with recall vs the exact
    // top-10 published beside the walls (the ivfpq_recall discipline:
    // approximation measured, never silent). The head/tail byte columns
    // are the on-disk sizes of the stop word's bucket per tier — the tail
    // is exactly what the tiered serve never reads.
    def dirBytes(d: java.io.File): Long =
      if (d.isDirectory) { val k = d.listFiles
        if (k == null) 0L else k.map(dirBytes).sum }
      else if (d.getName.endsWith(".parquet")) d.length else 0L
    val tieredRows = Seq(1, 10).map { k =>
      val docsBase = spark.read.parquet(s"$root/x1/documents.parquet")
      val docsK = (0 until k).map(c => docsBase.select(
          (col("doc_id") + lit(c * 10000000L)).as("doc_id"), col("text")))
        .reduce(_ unionByName _)
      val dir = s"$root/postings-tier-x$k"
      graft.queue.Maintenance.deleteRec(Paths.get(dir))
      graft.sources.PostingsStore.build(docsK, dir)
      val terms = Seq("dup", "the")
      val dfThe = spark.read.parquet(dir)
        .filter(col("tok") === "the").count()
      def minOf3(f: => Unit): Double = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }.min
      val exactSec = minOf3(graft.sources.PostingsStore
        .bm25TopK(spark, dir, terms, k = 10).collect())
      val prunedSec = minOf3(graft.sources.PostingsStore
        .bm25TopKPruned(spark, dir, terms, k = 10).collect())
      // the r19 WAND serve: exact output, tail reads bounded by the
      // certificate candidates instead of df
      val wandSec = minOf3(graft.sources.PostingsStore
        .bm25TopKWand(spark, dir, terms, k = 10).collect())
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val exactRows = rows(graft.sources.PostingsStore
        .bm25TopK(spark, dir, terms, k = 10))
      val exactIds = exactRows.map(_._2).toSet
      val prunedIds = graft.sources.PostingsStore
        .bm25TopKPruned(spark, dir, terms, k = 10)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val recall = (exactIds & prunedIds).size.toDouble / exactIds.size
      // wand is exact BY CONSTRUCTION — assert it, don't chart it
      val wandExact = rows(graft.sources.PostingsStore
        .bm25TopKWand(spark, dir, terms, k = 10)) == exactRows
      require(wandExact, s"WAND drifted from exact at scale $k")
      val tb = graft.sources.PostingsStore.bucketOf("the")
      val headBytes = dirBytes(new java.io.File(s"$dir/ingest_batch=-1/tbucket=$tb/tier=0"))
      val tailBytes = dirBytes(new java.io.File(s"$dir/ingest_batch=-1/tbucket=$tb/tier=1"))
      // r20 columns: the BLOCK-MAX refinement's candidate-fetch shrink
      // (same exact output — asserted above — fewer tail rows named), and
      // the rare-term DISPATCH (every df <= headSize -> the WAND entry
      // point serves the exact path with zero certificate assembly)
      val (_, diagBlock) = graft.sources.PostingsStore
        .bm25TopKWandDiag(spark, dir, terms, 10, useBlockMax = true)
      val (_, diagBatchB) = graft.sources.PostingsStore
        .bm25TopKWandDiag(spark, dir, terms, 10, useBlockMax = false)
      val (_, diagRare) = graft.sources.PostingsStore
        .bm25TopKWandDiag(spark, dir, Seq("dup"), 10)
      // the dispatch is df-AWARE: at 1x df('dup') fits the head (no tail
      // anywhere -> certificates vacuous -> serve the exact path with no
      // assembly), at 10x the same term has outgrown it and the
      // certificate path must engage — assert the decision TRACKS the
      // layout rather than a fixed boolean
      val dupTailed = spark.read.parquet(dir)
        .filter(col("tok") === "dup" && col("tier") === 1).limit(1).count() > 0
      require(diagRare.dispatchedExact == !dupTailed,
        s"dispatch decision diverged from the layout at scale $k: " +
          s"dispatched=${diagRare.dispatchedExact}, tailed=$dupTailed")
      val candB = diagBlock.candidateRows
      val candP = diagBatchB.candidateRows
      println(f"""{"kind":"tiered_serve","scale":$k,"df_the":$dfThe,"exact_sec":$exactSec%.3f,"pruned_sec":$prunedSec%.3f,"wand_sec":$wandSec%.3f,"wand_exact":$wandExact,"recall_at_10":$recall%.3f,"head_bytes":$headBytes,"tail_bytes":$tailBytes,"wand_cand_rows_block":$candB,"wand_cand_rows_batchbound":$candP,"wand_dispatch_rare":${diagRare.dispatchedExact}}""")
      (k, dfThe, exactSec, prunedSec, wandSec, recall, headBytes, tailBytes,
        candB, candP)
    }

    // HEAD-SIZE curve (headSize-vs-recall, the sizing evidence): the
    // tiered serve's recall@10 vs the exact top-10 as headSize sweeps
    // 64..512 over the same unsuffixed corpora — so the 256 default is a
    // measured choice on the honest worst case (the mixed "dup"+"the"
    // query whose stop-word contributions sit near the cut line), not the
    // one value a retune landed on. Each store is built fresh at its head
    // and deleted after measuring.
    val headCurveRows = Seq(1, 10).flatMap { k =>
      val docsBase = spark.read.parquet(s"$root/x1/documents.parquet")
      val docsK = (0 until k).map(c => docsBase.select(
          (col("doc_id") + lit(c * 10000000L)).as("doc_id"), col("text")))
        .reduce(_ unionByName _).localCheckpoint(true)
      Seq(64, 128, 256, 512).map { hs =>
        val dir = s"$root/postings-hs$hs-x$k"
        graft.queue.Maintenance.deleteRec(Paths.get(dir))
        graft.sources.PostingsStore.build(docsK, dir, headSize = hs)
        val terms = Seq("dup", "the")
        val exactIds = graft.sources.PostingsStore
          .bm25TopK(spark, dir, terms, k = 10)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
        val prunedIds = graft.sources.PostingsStore
          .bm25TopKPruned(spark, dir, terms, k = 10)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
        val recall = (exactIds & prunedIds).size.toDouble / exactIds.size
        val dfDup = spark.read.parquet(dir)
          .filter(col("tok") === "dup").count()
        graft.queue.Maintenance.deleteRec(Paths.get(dir))
        println(f"""{"kind":"head_curve","scale":$k,"head_size":$hs,"df_dup":$dfDup,"recall_at_10":$recall%.3f}""")
        (k, hs, dfDup, recall)
      }
    }

    // LEVELED-COMPACTION regime (the r19 verdict's top item): a 50-batch
    // ingest with compactLevel(cap=8) after every append. Every serving
    // bound that is linear in committed batch count is capped iff the
    // count is; the O(store) full fold was the only remedy before. The
    // claims this regime carries: (a) the batch count holds AT the cap
    // across the whole ingest (flat, better than the O(log n) floor);
    // (b) each fold WRITES only the folded (smallest) batches' bytes —
    // max/total fold-written vs what repeated FULL compacts would have
    // written (Σ store-size-at-fold) is the incremental win; (c) serving
    // over the leveled store is EXACT (asserted against the from-corpus
    // scorer, not charted).
    val levelRows = locally {
      val docsBase = spark.read.parquet(s"$root/x1/documents.parquet")
      val dir = s"$root/postings-leveled"
      graft.queue.Maintenance.deleteRec(Paths.get(dir))
      def negBatchDirs: Map[Long, java.io.File] = {
        val r = new java.io.File(graft.queue.VersionedDir.resolveDir(dir))
        Option(r.listFiles).getOrElse(Array.empty).collect {
          case f if f.getName.startsWith("ingest_batch=-") &&
            f.getName.stripPrefix("ingest_batch=").toLong < -1L =>
            f.getName.stripPrefix("ingest_batch=").toLong -> f
        }.toMap
      }
      var folds = 0
      var foldWritten = 0L
      var maxFold = 0L
      var naiveFull = 0L
      var maxBatches = 0
      def storeBytes: Long =
        dirBytes(new java.io.File(graft.queue.VersionedDir.resolveDir(dir)))
      val t0 = System.nanoTime()
      (0 until 50).foreach { b =>
        graft.sources.PostingsStore.appendBatch(
          docsBase.filter(col("doc_id") % 50 === b), dir, b.toLong)
        val knownNeg = negBatchDirs.keySet
        if (graft.sources.PostingsStore.compactLevel(spark, dir, maxBatches = 8)) {
          folds += 1
          naiveFull += storeBytes // a FULL compact rewrites ~the store
          val newId = (negBatchDirs.keySet -- knownNeg).min
          val w = dirBytes(new java.io.File(
            graft.queue.VersionedDir.resolveDir(dir) +
              s"/ingest_batch=$newId"))
          foldWritten += w
          maxFold = math.max(maxFold, w)
        }
        val n = {
          val sd = new java.io.File(
            graft.queue.VersionedDir.resolveDir(dir), "_stats")
          Option(sd.listFiles).getOrElse(Array.empty)
            .count(_.getName.startsWith("ingest_batch="))
        }
        maxBatches = math.max(maxBatches, n)
      }
      val ingestSec = (System.nanoTime() - t0) / 1e9
      val terms = Seq("dup", "vector", "merge")
      val served = graft.sources.PostingsStore
        .bm25TopK(spark, dir, terms, k = 20).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val exact = graft.operators.Retrieval.bm25TopK(docsBase, terms, k = 20)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      require(served == exact, "leveled store drifted from the exact scorer")
      // r21: the WAND driver-summary leash, measured where it matters —
      // the head summary is layout-bounded at headSize · batches · |terms|
      // and grows with BATCH COUNT; auto-leveling is the documented remedy
      // that keeps the bound flat. On the leveled store the serve must
      // run the certificate path (exactFallback=false: WandMaxHeadRows
      // never fires; fullTailFallback=false: no tail is read whole) with
      // headRows far under the cap; both numbers are published so the
      // leash is a row, not prose.
      val (wandServed, wandDiag) = graft.sources.PostingsStore
        .bm25TopKWandDiag(spark, dir, Seq("dup", "the"), 10)
      require(!wandDiag.exactFallback && !wandDiag.fullTailFallback &&
        !wandDiag.dispatchedExact,
        s"WAND on the leveled store left the certificate path: $wandDiag")
      require(wandServed.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
        == graft.operators.Retrieval.bm25TopK(docsBase, Seq("dup", "the"), 10)
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq,
        "leveled WAND drifted from the exact scorer")
      val sb2 = storeBytes
      println(f"""{"kind":"leveled_compaction","batches":50,"cap":8,"folds":$folds,"max_batches_seen":$maxBatches,"fold_written_bytes":$foldWritten,"max_fold_bytes":$maxFold,"full_compact_equiv_bytes":$naiveFull,"store_bytes":$sb2,"ingest_sec":$ingestSec%.1f,"serve_exact":true,"wand_head_rows":${wandDiag.headRows},"wand_cand_rows":${wandDiag.candidateRows},"wand_exact_fallback":${wandDiag.exactFallback}}""")
      (folds, maxBatches, foldWritten, maxFold, naiveFull, sb2, ingestSec,
        wandDiag.headRows, wandDiag.candidateRows)
    }

    // IVF LEAF-MERGE regime — the same discipline on the vector store:
    // 48 appends grow every probed list's per-batch leaf count linearly;
    // mergeLeaves(cap=8) per append holds it flat. The merge is
    // content-neutral (no reassignment), so serving the leveled store
    // must EQUAL the in-memory probe path over the full corpus —
    // asserted, not charted.
    val ivfMergeRows = locally {
      import spark.implicits._
      val embDisk = spark.read.parquet(s"$root/x1/embeddings.parquet")
      val dir = s"$root/ivf-leveled"
      graft.queue.Maintenance.deleteRec(Paths.get(dir))
      graft.sources.IvfIndexStore.build(
        embDisk.filter(col("vec_id") < 200), dir, nlist = 16)
      var maxBatches = 0
      var maxLeaves = 0
      def census(): (Int, Int) = {
        val r = new java.io.File(graft.queue.VersionedDir.resolveDir(dir))
        val lists = Option(r.listFiles).getOrElse(Array.empty)
          .filter(_.getName.startsWith("centroid_id="))
        val perList = lists.map(l =>
          Option(l.listFiles).getOrElse(Array.empty)
            .count(_.getName.startsWith("ingest_batch=")))
        val ids = lists.flatMap(l =>
          Option(l.listFiles).getOrElse(Array.empty)
            .filter(_.getName.startsWith("ingest_batch="))
            .map(_.getName)).distinct
        (ids.length, if (perList.isEmpty) 0 else perList.max)
      }
      val t0 = System.nanoTime()
      (0 until 48).foreach { b =>
        graft.sources.IvfIndexStore.appendBatch(
          embDisk.filter(col("vec_id") >= 200 && col("vec_id") % 48 === b),
          dir, b.toLong)
        graft.sources.IvfIndexStore.mergeLeaves(spark, dir, maxBatches = 8)
        val (nb, nl) = census()
        maxBatches = math.max(maxBatches, nb)
        maxLeaves = math.max(maxLeaves, nl)
      }
      val ingestSec = (System.nanoTime() - t0) / 1e9
      val qv = embDisk.filter(col("vec_id") === 0L)
        .select(col("embedding")).as[Seq[Float]].head()
      val served = graft.sources.IvfIndexStore
        .topK(spark, dir, qv, k = 10, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val inMem = graft.operators.Similarity
        .ivfTopK(embDisk, queryId = 0L, k = 10, nlist = 16, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      require(served == inMem, "leaf-merged ivf store drifted from exact")
      val (nbF, nlF) = census()
      println(f"""{"kind":"ivf_leaf_merge","appends":48,"cap":8,"final_batches":$nbF,"max_batches_seen":$maxBatches,"max_list_leaves_seen":$maxLeaves,"final_max_list_leaves":$nlF,"ingest_sec":$ingestSec%.1f,"serve_identical":true}""")
      (nbF, maxBatches, maxLeaves, nlF, ingestSec)
    }

    // ROW-GROUP-TIER regime (the r17 verdict's named evidence gap): the
    // key-pruned probes' flat lines were measured over single-row-group
    // toy files, where footer stats reject whole FILES. Here both
    // key-sorted stores rewrite into ~16 KiB row groups, so files span
    // MANY groups and the claim the 100 TB story leans on — pushed eq
    // leaves skipping row groups INSIDE a file — actually engages. The
    // groups/file column proves the tier is live; the probe walls must
    // stay near-flat across the decade anyway.
    def rowGroupsOf(d: java.io.File): (Int, Int) = { // (files, row groups)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) { val k = f.listFiles
          if (k == null) Seq.empty else k.toSeq.flatMap(walk) }
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      val fs = walk(d)
      val groups = fs.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath),
          spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.size finally r.close()
      }.sum
      (fs.size, groups)
    }
    val smallGroups = Map("parquet.block.size" -> "16384",
      "parquet.page.size" -> "4096")
    val rgContRows = scales.map { k =>
      val regDir = s"$root/registry-cont-x$k" // seeded by the cont_probe regime
      val rgDir = s"$root/registry-cont-rg-x$k"
      // fresh rebuild every run: the timing probes below APPEND their
      // batch registrations (processBatch's contract), so a reused dir
      // would carry the previous run's single-row-group append files and
      // dilute the groups/file density the files column is here to show
      graft.queue.Maintenance.deleteRec(Paths.get(rgDir))
      graft.streaming.IncrementalContainment.readRegistry(spark, regDir)
        .repartition(col("bucket"))
        .sortWithinPartitions(col("bucket"), col("shingle_md5"))
        .write.options(smallGroups).partitionBy("bucket").parquet(rgDir)
      val (files, groups) = rowGroupsOf(new java.io.File(rgDir))
      val docs = spark.read.parquet(s"$root/x$k/documents.parquet")
      val batch = docs.filter(col("doc_id") % 200 === 0)
        .limit(25).select(col("doc_id") + 96000000L as "doc_id", col("text"))
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.streaming.IncrementalContainment.processBatch(batch, rgDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"kind":"cont_probe_rowgroup","scale":$k,"files":$files,"row_groups":$groups,"sec":$sec%.3f}""")
      (k, files, groups, sec)
    }
    val rgPostRows = Seq(1, 10).map { k =>
      val dir = s"$root/postings-x$k" // erased + compacted by the regime above
      val hc = spark.sparkContext.hadoopConfiguration
      smallGroups.foreach { case (p, v) => hc.set(p, v) }
      try graft.sources.PostingsStore.compact(spark, dir)
      finally smallGroups.keys.foreach(hc.unset)
      val resolved = graft.queue.VersionedDir.resolveDir(dir)
      val terms = Seq("dup", "vector", "merge")
      val probed = terms.map(graft.sources.PostingsStore.bucketOf).distinct
      val (files, groups) = probed.map(b =>
          rowGroupsOf(new java.io.File(s"$resolved/ingest_batch=-1/tbucket=$b")))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.sources.PostingsStore.bm25TopK(spark, dir, terms, k = 20).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"kind":"postings_rowgroup","scale":$k,"probed_files":$files,"probed_row_groups":$groups,"serve_sec":$sec%.3f}""")
      (k, files, groups, sec)
    }

    // HYBRID-RECALL regime (q125/q128's VALUE evidence): recall@10 for
    // sparse-only / dense-only / RRF-fused on the two-signal labeled
    // fixture — RetrievalQualitySpec pins fused >= max(single) at the
    // small SFs; this publishes the numbers at the bench corpus.
    val recallRows = graft.operators.RetrievalQuality.recallAtK(spark, base)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq
    recallRows.foreach { case (m, ppm, nq, kk) =>
      println(s"""{"kind":"hybrid_recall","mode":"$m","recall_ppm":$ppm,"n_queries":$nq,"k":$kk}""")
    }

    val dRows = queueDepths.map { n =>
      val sec = (1 to 3).map { _ =>
        val qdir = s"$root/queue$n/event_log"
        mkQueue(spark, qdir, n)
        val t0 = System.nanoTime()
        val stats = Dispatcher.runOnce(spark, qdir, Always200,
          now = new Timestamp(1700000000001L))
        require(stats.delivered == n, s"expected $n delivered, got $stats")
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"kind":"dispatcher","depth":$n,"sec":$sec%.3f}""")
      (n, sec)
    }

    // Probe cost vs BATCH COUNT (not registry size): every micro-batch
    // appends one file per touched (band, bucket) partition, so file count
    // grows with batch count even when row count barely moves — and probe
    // time follows file count (open/footer costs). The in-gate compaction
    // cadence (IncrementalDedup.gate compactEvery) must hold it flat.
    val fRows = Seq(0, 15).map { cadence =>
      val regDir = s"$root/registry-growth-c$cadence"
      val rp = Paths.get(regDir)
      graft.queue.Maintenance.deleteRec(rp)
      val batches = 60
      val secs = (0 until batches).map { b =>
        import spark.implicits._
        val batch = spark.range(25).map { i =>
          val id = b * 25L + i
          (id, (1 to 8).map(w => s"tok${id}w$w").mkString(" "))
        }.toDF("doc_id", "text")
        val t0 = System.nanoTime()
        graft.streaming.IncrementalDedup.processBatch(batch, regDir)
          .write.format("noop").mode("overwrite").save()
        if (cadence > 0 && (b + 1) % cadence == 0)
          graft.queue.Maintenance.compactParquet(spark, regDir,
            partitionCols = Seq("band", "bucket"))
        (System.nanoTime() - t0) / 1e9
      }
      def files(): Int = {
        val it = Files.walk(rp).iterator(); var n = 0
        while (it.hasNext) if (it.next().toString.endsWith(".parquet")) n += 1
        n
      }
      val first = secs.slice(5, 15).sum / 10 // skip warmup batches
      val last = secs.takeRight(10).sum / 10
      println(f"""{"kind":"file_growth","cadence":$cadence,"batches":$batches,"probe_first10":$first%.3f,"probe_last10":$last%.3f,"files":${files()}}""")
      (cadence, first, last, files())
    }

    // Reconcile cost vs registry size: chain canonicalization is a
    // PERIODIC O(corpus) batch job (registry group-agg + star contraction
    // over KB-scale edges + two id-keyed shuffle joins), not per-batch
    // work — the claim to evidence is that its wall time scales ~linearly
    // in the registry and that it actually finds and rewrites the chains
    // the per-batch verdicts leave behind.
    val rcRows = Seq(1, 10).map { k =>
      import spark.implicits._
      dropDeadBlocks()
      val regDir = s"$root/registry-rec-x$k"
      val vd = s"$root/verdicts-rec-x$k"
      Seq(regDir, vd).foreach(d => graft.queue.Maintenance.deleteRec(Paths.get(d)))
      val docs = spark.read.parquet(s"$root/x$k/documents.parquet")
      graft.streaming.IncrementalDedup.seedRegistry(docs, regDir)
      // 10 fresh ingest batches grow the verdict relation (the cost side)...
      (0 until 10).foreach { b =>
        val batch = spark.range(25).map { i =>
          val id = 98000000L + b * 25L + i
          (id, (1 to 8).map(w => s"tok${id}w$w").mkString(" "))
        }.toDF("doc_id", "text")
        graft.streaming.IncrementalDedup.processBatch(batch, regDir)
          .write.mode(SaveMode.Append).parquet(vd)
      }
      // ...and one batch manufactures REAL chains: two ids per corpus text,
      // both BELOW the registry rep's id, so the larger of the pair charges
      // to its intra-batch partner (the smaller id wins `least`) while the
      // partner charges to the corpus rep — exactly the B~A~R shape the
      // per-batch verdict leaves non-canonical (ids out of arrival order:
      // the multi-source / id-recycling ingest case)
      val seedTexts = docs.select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).limit(12)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val chainBatch = seedTexts.zipWithIndex.flatMap { case ((_, t), i) =>
        Seq((-(2L * i + 2), t), (-(2L * i + 1), t))
      }.toSeq.toDF("doc_id", "text")
      graft.streaming.IncrementalDedup.processBatch(chainBatch, regDir)
        .write.mode(SaveMode.Append).parquet(vd)
      val t0 = System.nanoTime()
      val st = graft.streaming.IncrementalDedup.reconcile(spark, regDir, vd)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"kind":"reconcile","scale":$k,"nodes":${st.nDocs},"clusters":${st.nClusters},"links_canonicalized":${st.nVerdictLinksCanonicalized},"registry_rows_remapped":${st.nRegistryRowsRemapped},"sec":$sec%.3f}""")
      (k, st.nDocs, st.nVerdictLinksCanonicalized, sec)
    }

    writeMd(out, qRows, rRows, pRows, quRows, spRows, coRows, stRows, qcRows, mrRows, icRows, fgRows, bRows, contRows, cRows, ccOrganic, vRows, kRows, ivfRows, storeRows, maintRows, postingsRows, pqStoreRows, pqRecallRows, tieredRows, headCurveRows, levelRows, ivfMergeRows, rgContRows, rgPostRows, recallRows, dRows, fRows, rcRows)
    println(s"wrote $out")
    spark.stop()
  }

  /** Scaled relational dir: symlinked base tables + k-times orders and
    * lineitem (order keys shifted per copy; customer keys unchanged). */
  private def buildScaledRel(spark: SparkSession, base: String, dir: String, k: Int): Unit = {
    val d = Paths.get(dir)
    if (Files.exists(d.resolve("_built"))) return
    Files.createDirectories(d)
    (tables.filterNot(Set("orders", "lineitem")) :+ "documents").foreach { t =>
      val link = d.resolve(s"$t.parquet")
      if (!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        Files.createSymbolicLink(link, Paths.get(base, s"$t.parquet"))
    }
    for ((t, key) <- Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey")) {
      val src = spark.read.parquet(s"$base/$t.parquet")
      (0 until k).map(c => src.withColumn(key, col(key) + lit(c * 100000000L)))
        .reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
    }
    Files.createFile(d.resolve("_built"))
  }

  /** Scaled corpus dir: symlinked base tables + k-times documents. */
  private def buildScaled(spark: SparkSession, base: String, dir: String, k: Int): Unit = {
    val d = Paths.get(dir)
    // marker VERSIONED (_built2): dirs built before embeddings were scaled
    // carried a symlinked 1x embeddings table — reusing one would make the
    // q97 slope silently measure the same relation at every scale
    if (Files.exists(d.resolve("_built2"))) return
    Files.createDirectories(d)
    // a leftover embeddings symlink from the pre-_built2 layout: writing
    // THROUGH it would destroy the shared base table — drop the link itself
    val embLink = d.resolve("embeddings.parquet")
    if (Files.isSymbolicLink(embLink)) Files.delete(embLink)
    tables.foreach { t =>
      val link = d.resolve(s"$t.parquet")
      if (!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        Files.createSymbolicLink(link, Paths.get(base, s"$t.parquet"))
    }
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val copies = (0 until k).map { c =>
      if (c == 0) docs
      else docs.select(
        (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          x => concat(x, lit(s"_$c")))).as("text"),
        col("lang"), col("source"),
        length(concat_ws(" ", transform(split(col("text"), " "),
          x => concat(x, lit(s"_$c"))))).as("n_chars"))
    }
    copies.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    // embeddings scale by id-shifted copies (same vectors/labels: centroids
    // are invariant, per-row scoring cost is what the slope measures)
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val eCopies = (0 until k).map { c =>
      if (c == 0) emb
      else emb.select((col("vec_id") + lit(c * 10000000L)).as("vec_id"),
        col("embedding"), col("label"))
    }
    eCopies.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    Files.createFile(d.resolve("_built2"))
  }

  private def mkQueue(spark: SparkSession, dir: String, n: Int): Unit = {
    import spark.implicits._
    val p = Paths.get(dir).getParent
    graft.queue.Maintenance.deleteRec(p)
    val due = new Timestamp(1700000000000L)
    val rows = spark.range(n.toLong).map { i =>
      EventLog.QueueRow(
        id = s"ev$i", trigger_schema = "public", trigger_table = "t",
        trigger_name = "scale_t", webhook_url = "http://127.0.0.1:1/hook",
        headers = "{}", payload = s"""{"op":"INSERT","id":$i}""", timeout = 10,
        status = "PENDING", attempt_count = 0, attempts_time = Seq.empty,
        attempts_status = Seq.empty, attempts_response = Seq.empty,
        next_attempt = due, retry_number = 2, retry_interval = 2,
        retry_backoff = "EXPONENTIAL", created_at = due, updated_at = due)
    }
    graft.queue.PendingStore.spool(rows.toDF(), dir)
  }

  private def writeMd(out: String,
                      qRows: Seq[(String, Int, Double, Double)],
                      rRows: Seq[(Int, Double, Double)],
                      pRows: Seq[(Int, Long, Double)],
                      quRows: Seq[(Int, Long, Double)],
                      spRows: Seq[(Int, Long, Double)],
                      coRows: Seq[(Int, Long, Double)],
                      stRows: Seq[(Int, Long, Double)],
                      qcRows: Seq[(Int, Long, Double)],
                      mrRows: Seq[(Int, Long, Double, Double)],
                      icRows: Seq[(Int, Long, Double, Double, Double)],
                      fgRows: Seq[(Int, Long, Double, Double, Double, Double)],
                      bRows: Seq[(Int, Int, Long, Long, Double, Double)],
                      contRows: Seq[(Int, Long, Long, Long, Double, Long)],
                      cRows: Seq[(Int, Int, Double)],
                      ccOrganic: (Long, Long, Int, Double),
                      vRows: (Double, Double, Double),
                      kRows: Seq[(Int, Double, Double, Double)],
                      ivfRows: Seq[(Int, Double, Double)],
                      storeRows: Seq[(Int, Double, Double, Double, Int, Int)],
                      maintRows: Seq[(Int, Int, Long, Long, Double, Double)],
                      postingsRows: Seq[(Int, Double, Double, Double, Int, Int, Int, Long, Double, Double, Int, Long, Double)],
                      pqStoreRows: Seq[(Int, Double, Double, Double, Long, Long)],
                      pqRecallRows: Seq[(Int, Double)],
                      tieredRows: Seq[(Int, Long, Double, Double, Double, Double, Long, Long, Long, Long)],
                      headCurveRows: Seq[(Int, Int, Long, Double)],
                      levelRows: (Int, Int, Long, Long, Long, Long, Double, Long, Long),
                      ivfMergeRows: (Int, Int, Int, Int, Double),
                      rgContRows: Seq[(Int, Int, Int, Double)],
                      rgPostRows: Seq[(Int, Int, Int, Double)],
                      recallRows: Seq[(String, Long, Long, Int)],
                      dRows: Seq[(Int, Double)],
                      fRows: Seq[(Int, Double, Double, Int)],
                      rcRows: Seq[(Int, Long, Long, Double)]): Unit = {
    val sb = new StringBuilder
    sb ++= "## Scale slopes (measured)\n\n"
    sb ++= "Generated by `graft.tools.ScaleBench` on synthetic 1x/3x/10x corpora\n"
    sb ++= "(token-suffixed copies: constant near-dup RATE as size grows; see the\n"
    sb ++= "tool's scaladoc). Wall-clock seconds, local[32]. `cold` = first run\n"
    sb ++= "on the dir — includes computing + persisting the shared stages, the\n"
    sb ++= "number that must scale; `warm` = later runs over the persisted\n"
    sb ++= "stages. `slope` = cold(10x)/cold(1x): linear predicts ~10, sub-10\n"
    sb ++= "means fixed job costs still dominate at this corpus size.\n\n"
    sb ++= "Noise floor: this box is shared — r16→r17 bench drift measured a\n"
    sb ++= "UNIFORM ~1.14x median across 54 unchanged queries (host load, not\n"
    sb ++= "regressions), so treat per-row deltas under ~1.3x as noise unless a\n"
    sb ++= "deterministic column (rows, shuffle bytes, files, row groups) moved\n"
    sb ++= "with them. Bench mitigates: >= 1.5 s rows report a min-of-5\n"
    sb ++= "(two extra round-robin passes) instead of min-of-3.\n\n"
    sb ++= "| pipeline | 1x cold/warm | 3x cold/warm | 10x cold/warm | 30x cold/warm | cold slope 10x/1x | cold slope 30x/10x |\n|---|---|---|---|---|---|---|\n"
    queries.foreach { q =>
      val by = qRows.filter(_._1 == q).map(r => r._2 -> (r._3, r._4)).toMap
      def cell(k: Int) =
        by.get(k).map { case (c, w) => f"$c%.2f / $w%.2f s" }.getOrElse("—")
      val s30 = by.get(30).map(t => f"${t._1 / by(10)._1}%.1f x").getOrElse("—")
      sb ++= f"| $q | ${cell(1)} | ${cell(3)} | ${cell(10)} | ${cell(30)} | ${by(10)._1 / by(1)._1}%.1f x | $s30 |\n"
    }
    sb ++= "\nThe 30x column (capped-vs-uncapped crossover pair only) is the\n"
    sb ++= "decade that separates a fixed-cost-dominated slope from a real\n"
    sb ++= "superlinear term: linear predicts 30x/10x = 3.\n"
    for {
      u10 <- qRows.find(r => r._1 == "q33_jaccard_verify" && r._2 == 10)
      u30 <- qRows.find(r => r._1 == "q33_jaccard_verify" && r._2 == 30)
      c10 <- qRows.find(r => r._1 == "q87_jaccard_capped" && r._2 == 10)
      c30 <- qRows.find(r => r._1 == "q87_jaccard_capped" && r._2 == 30)
    } {
      val (cc, cw) = (c30._3 / c10._3, c30._4 / c10._4)
      val (uc, uw) = (u30._3 / u10._3, u30._4 / u10._4)
      // the verdict is COMPUTED from the measured slopes, never asserted:
      // a future regression must print as one, not hide under fixed prose
      val cappedVerdict =
        if (math.max(cc, cw) <= 3.2)
          "at-or-below linear, i.e. candidate-volume-bound\nwith no superlinear term of its own"
        else
          "ABOVE linear — the capped path has grown its own\nsuperlinear term; tighten the cap or rework the banding"
      val uncappedVerdict =
        if (math.max(uc, uw) > 3.2) "crossing linear as the\nmega-bucket quadratic outgrows the fixed stage costs"
        else "still inside its fixed-cost regime at this size"
      sb ++= f"Crossover conclusion: at 30x/10x the capped path runs at $cc%.1fx\n" +
        f"cold / $cw%.1fx warm — $cappedVerdict — while the uncapped contrast is\n" +
        f"$uc%.1fx cold / $uw%.1fx warm, $uncappedVerdict." +
        (if (math.max(cc, cw) <= 3.2) " The cap is the\n100 TB path.\n" else "\n")
    }
    // sanity prose is COMPUTED from this run's data, never asserted: a
    // fixed "warm stays under cold" sentence once shipped beside a table
    // that refuted it (q33 30x warm > cold under external host load).
    // Only STAGED queries carry the invariant — see stagedQueries.
    val warmOverCold = qRows
      .filter(r => stagedQueries(r._1) && r._4 > r._3)
      .map(r => s"${r._1}@${r._2}x")
    if (warmOverCold.isEmpty) {
      sb ++= "\nWarm stays under cold at every staged (pipeline, scale) in this\n"
      sb ++= "run — the persisted shingle stage reads faster than it recomputes\n"
      sb ++= "(the r4 warm>cold number was a host-noise artifact; staging advice\n"
      sb ++= "stands). q91/q92 have no persisted stages, so their warm column is\n"
      sb ++= "a repeat measurement, not a staged read.\n"
    } else {
      sb ++= s"\nWARNING: warm >= cold at ${warmOverCold.mkString(", ")} in\n"
      sb ++= "this run — a persisted stage can never truly read slower than it\n"
      sb ++= "recomputes, so treat this regeneration as host-load-contaminated\n"
      sb ++= "and prefer the last committed isolated run.\n"
    }
    // colds must not DECREASE as the corpus grows; a non-monotone cold
    // column means the run measured the host, not the engine. Scoped to the
    // staged multi-second pipelines: the stage-less q91/q92 run sub-second
    // and fixed-cost dominated at these sizes, where ±0.2 s scheduler
    // jitter routinely exceeds the 20% band — a flat-to-noisy cold there is
    // the honest result (fixed costs swamp the data), not contamination.
    val nonMono = queries.filter(stagedQueries).flatMap { q =>
      val by = qRows.filter(_._1 == q).sortBy(_._2)
      by.sliding(2).collectFirst {
        case Seq(a, b) if b._3 < a._3 * 0.8 => s"$q (${a._2}x>${b._2}x)"
      }
    }
    if (nonMono.nonEmpty) {
      sb ++= s"\nWARNING: non-monotone cold slopes — ${nonMono.mkString(", ")}:\n"
      sb ++= "larger corpora measured cheaper than smaller ones, which is\n"
      sb ++= "physically impossible for these pipelines. DISCARD this\n"
      sb ++= "regeneration and re-run on a quiet host.\n"
    }
    sb ++= "\n| eager-agg regime (orders+lineitem scaled) | q3 plain | q68 pre-agg |\n|---|---|---|\n"
    rRows.foreach { case (k, t3, t68) =>
      sb ++= f"| ${k}x | $t3%.2f s | $t68%.2f s |\n"
    }
    sb ++= "\nAt these sizes the two plans are within single-host noise of each\n"
    sb ++= "other (repeated runs flip the ordering by ±0.3 s); the rewrite's\n"
    sb ++= "claim is the plan shape — the join-side shuffle carries one row per\n"
    sb ++= "qualifying order instead of one per lineitem — which PlanQualitySpec\n"
    sb ++= "pins and which pays off where shuffle volume, not fixed stage cost,\n"
    sb ++= "dominates.\n"
    sb ++= "\n| ingest-dedup probe (fixed 50-doc batch) | registry rows | sec |\n|---|---|---|\n"
    pRows.foreach { case (k, rows, s) =>
      sb ++= f"| vs ${k}x-corpus registry | $rows | $s%.2f s |\n"
    }
    sb ++= "\nFlat probe time against a 10x registry = the (band, bucket)\n"
    sb ++= "partition pruning doing its job: per-batch I/O tracks the batch,\n"
    sb ++= "not the corpus.\n"
    sb ++= "\n| domain-quota probe (fixed 40-doc batch) | admitted rows | sec |\n|---|---|---|\n"
    quRows.foreach { case (k, rows, s) =>
      sb ++= f"| vs ${k}x-corpus registry | $rows | $s%.2f s |\n"
    }
    sb ++= "\nThe quota twin of the dedup probe: the admitted-set registry is\n"
    sb ++= "sbucket-partitioned, the probe prunes to the batch's touched\n"
    sb ++= "buckets, and a flat line against a 10x admitted set is that pruning\n"
    sb ++= "measured (count aggregation + replay join both run over the pruned\n"
    sb ++= "subset only).\n"
    sb ++= "\n| span-removal probe (fixed 50-doc batch, blocks pre-seen) | occurrence rows | sec |\n|---|---|---|\n"
    spRows.foreach { case (k, rows, s) =>
      sb ++= f"| vs ${k}x-corpus registry | $rows | $s%.2f s |\n"
    }
    sb ++= "\nThe span twin: the batch re-ingests corpus docs under shifted ids,\n"
    sb ++= "so every block hits the seen-elsewhere path for real; a flat line\n"
    sb ++= "against a 10x occurrence registry is the bucket pruning measured\n"
    sb ++= "(the registry streams map-side through the probe join, never\n"
    sb ++= "shuffled or grouped per batch).\n"
    sb ++= "\n| containment ingest probe (fixed 25-doc batch, shingles pre-seen) | occurrence rows | sec |\n|---|---|---|\n"
    coRows.foreach { case (k, rows, s) =>
      sb ++= f"| vs ${k}x-corpus registry | $rows | $s%.2f s |\n"
    }
    locally {
      val c1 = coRows.find(_._1 == 1).get
      val c10 = coRows.find(_._1 == 10).get
      sb ++= f"\nThe containment twin, now KEY-PRUNED (round 17): the batch's\n"
      sb ++= f"~1.2k distinct fingerprints push down as an In over registry files\n"
      sb ++= f"sorted by shingle_md5, so row groups outside every eq leaf's range\n"
      sb ++= f"skip on footer stats and the probe reads O(matched + footers)\n"
      sb ++= f"instead of the registry — measured ${c10._3 / c1._3}%.2fx wall for 10x occurrence\n"
      sb ++= f"rows (near-flat; the intercept is footer evaluation over the\n"
      sb ++= f"bucket files, which at these toy sizes are single-row-group —\n"
      sb ++= f"the row-group tier bites once compacted buckets span many groups\n"
      sb ++= f"at production block sizes). Batches past probeKeyLimit distinct\n"
      sb ++= f"fingerprints keep the documented streaming-join fallback and\n"
      sb ++= f"amortize the registry read they pay; the batch operator (q113)\n"
      sb ++= f"pays the same corpus scan once per run.\n"
    }
    sb ++= "\n| corpus-accounting probe (fixed 50-doc batch) | accounting rows | sec |\n|---|---|---|\n"
    stRows.foreach { case (k, rows, s) =>
      sb ++= f"| vs ${k}x-corpus registry | $rows | $s%.2f s |\n"
    }
    sb ++= "\nThe accounting twin (CorpusStats, q98's ingest form): replay join\n"
    sb ++= "and per-cell prior totals both run over the pruned sbucket subset,\n"
    sb ++= "so per-batch cost tracks the batch's touched domains, not the\n"
    sb ++= "registry.\n"
    sb ++= "\n| quality-cut ingest probe (fixed 50-doc batch) | scored rows | sec |\n|---|---|---|\n"
    qcRows.foreach { case (k, rows, s) =>
      sb ++= f"| vs ${k}x-corpus registry | $rows | $s%.2f s |\n"
    }
    sb ++= "\nThe relative-threshold twin (IncrementalQualityCut, q114's ingest\n"
    sb ++= "form): the cutoff recompute reads the O(strata) score-histogram\n"
    sb ++= "rollup — one row per distinct (source, score), not per document —\n"
    sb ++= "and the registry probe prunes to touched sbuckets, so per-batch\n"
    sb ++= "cost stays near-flat while the scored corpus grows 10x.\n"
    sb ++= "\n| mix-rate pull | accounting rows | rollup sec | doc-grained scan sec |\n|---|---|---|---|\n"
    mrRows.foreach { case (k, rows, rs, ss) =>
      sb ++= f"| vs ${k}x-corpus registry | $rows | $rs%.2f s | $ss%.2f s |\n"
    }
    sb ++= "\nMixBalance.rates reads the compacted per-cell rollup (O(strata)\n"
    sb ++= "rows — languages, not documents), kept exactly in sync by each\n"
    sb ++= "batch's fresh delta. The flat rollup column vs the growing\n"
    sb ++= "doc-grained scan column (the pre-r12 design: distinct + groupBy\n"
    sb ++= "over every admitted doc, per tick) is the upgrade, measured.\n"
    sb ++= "\n| ingest-curation gate, 50 batches x 25 docs | registry rows | batches 6-15 | last 10 | docs/sec |\n|---|---|---|---|---|\n"
    icRows.foreach { case (k, rows, first, last, dps) =>
      sb ++= f"| vs ${k}x-corpus registry | $rows | $first%.2f s | $last%.2f s | $dps%.1f |\n"
    }
    sb ++= "\nThe COMPOSED gate (dedup probe + quality + language verdicts +\n"
    sb ++= "registration) with the compaction cadence on (every 15 batches,\n"
    sb ++= "compaction tick included in its batch's time): per-batch cost and\n"
    sb ++= "docs/sec hold flat across a 10x registry AND across 50 sustained\n"
    sb ++= "batches — the quality/language passes are shuffle-free column\n"
    sb ++= "algebra on the 25-doc batch, so the probe's O(batch) bound is the\n"
    sb ++= "gate's bound.\n"
    sb ++= "\n| FULL gate (quota+classifier+mix+lexical on), 50 batches x 25 docs | registry rows | batches 6-15 | last 10 | docs/sec | jobs/batch |\n|---|---|---|---|---|---|\n"
    fgRows.foreach { case (k, rows, first, last, dps, jpb) =>
      sb ++= f"| vs ${k}x-corpus registry | $rows | $first%.2f s | $last%.2f s | $dps%.1f | $jpb%.1f |\n"
    }
    sb ++= "\nThe full composition with every optional gate enabled: domain\n"
    sb ++= "quota (pruned admitted-set probe), trained quality classifier (one\n"
    sb ++= "codegen'd projection, weights in-plan), mix-aware admission\n"
    sb ++= "(rates from the O(strata) rollup; kept set registered per batch),\n"
    sb ++= "and lexical decontamination (broadcast benchmark shingle join).\n"
    sb ++= "Docs/sec holding flat vs a 10x-seeded registry is the claim that\n"
    sb ++= "turning every gate on keeps the gate O(batch) — no per-tick\n"
    sb ++= "corpus scan hides in the composition.\n\n"
    sb ++= "`jobs/batch` counts Spark jobs started per processBatch call\n"
    sb ++= "(SparkListener onJobStart, steady state, compaction ticks\n"
    sb ++= "excluded) — the scheduler-level cost of one micro-batch, tracked\n"
    sb ++= "here per round. Measurement caveat: listener-bus delivery is\n"
    sb ++= "asynchronous, so each counter read sits behind a 100 ms drain\n"
    sb ++= "pause; an event outlasting that pause would smear into the next\n"
    sb ++= "batch's delta (the steady-state average damps any residue). Fusion before/after (GateJobsProbe, local[8],\n"
    sb ++= "25-doc batches, EVERY text gate on): the pre-fusion shape — one\n"
    sb ++= "groupBy+join per text gate, commit 21f55a0 — ran 70.5 jobs/batch\n"
    sb ++= "at 6.38 s/batch; the fused per-variant projection + single per-id\n"
    sb ++= "aggregate runs 63.4 jobs/batch at 5.61 s/batch (-10% jobs, -12%\n"
    sb ++= "wall), verdicts unchanged (IngestCurationSpec pins them equal to\n"
    sb ++= "the batch operators). The r12 prediction of a >=30% job cut was\n"
    sb ++= "WRONG: per-batch jobs are dominated by the structural actions —\n"
    sb ++= "registry probes, localCheckpoints, three registration writes —\n"
    sb ++= "which fusion does not touch; what fusion removes is shuffles and\n"
    sb ++= "joins INSIDE the verdict plan, which shows up as the wall-clock\n"
    sb ++= "cut, not as a proportional job-count cut.\n"
    sb ++= "\n| mega-bucket regime | docs | uncapped pairs (would-be) | capped pairs | recall on true pairs | capped verify sec |\n|---|---|---|---|---|---|\n"
    bRows.foreach { case (k, docs, unc, cap, rec, s) =>
      sb ++= f"| ${k}x | $docs | $unc | $cap | ${rec * 100}%.1f%% | $s%.2f s |\n"
    }
    val bSlope = bRows.find(_._1 == 10).get._6 / bRows.find(_._1 == 1).get._6
    val bSlope30 = bRows.find(_._1 == 30).map(r =>
      f"${r._6 / bRows.find(_._1 == 10).get._6}%.1fx for the further 3x to 30x").getOrElse("n/a")
    sb ++= f"\nA growing template bucket makes the uncapped candidate count\n"
    sb ++= f"quadratic in corpus size (counted from the bucket histogram, not\n"
    sb ++= f"materialized), while the capped pipeline (`Dedup.lshCandidatesCapped`,\n"
    sb ++= f"cap 32 here) stays ~linear — measured cold slope ${bSlope}%.1fx for 10x docs, $bSlope30 —\n"
    sb ++= f"with full recall on genuine near-dup pairs: band redundancy keeps a\n"
    sb ++= f"true pair unless EVERY shared bucket is mega. Over-cap buckets are\n"
    sb ++= f"routed to the boilerplate path (they share a template, not content),\n"
    sb ++= f"so the cap adds signal rather than dropping it.\n"
    sb ++= "\n| containment blocking (df<=8, q113) | unblocked pairs (would-be) | candidates | pairs cont>=0.6 | shuffle bytes | block+verify sec |\n|---|---|---|---|---|---|\n"
    contRows.foreach { case (k, unb, cand, p06, s, sby) =>
      sb ++= f"| ${k}x | $unb | $cand | $p06 | $sby | $s%.2f s |\n"
    }
    locally {
      val s1 = contRows.find(_._1 == 1).get
      val s10 = contRows.find(_._1 == 10).get
      val c30s = contRows.find(_._1 == 30)
      sb ++= f"\nRare-shingle blocking is the containment twin of the bucket cap,\n"
      sb ++= f"and its slope claim rides the DETERMINISTIC columns (wall on this\n"
      sb ++= f"shared host is single-shot and noise-bound; bytes and counts are\n"
      sb ++= f"properties of data + plan): the unblocked pair count (arithmetic\n"
      sb ++= f"over the df histogram, never materialized) grows ${s10._2.toDouble / s1._2}%.0fx over the\n"
      sb ++= f"decade while the df<=8 candidate set grows ${s10._3.toDouble / s1._3}%.1fx and shuffle\n"
      sb ++= f"bytes ${s10._6.toDouble / s1._6}%.1fx"
      c30s.foreach(r => sb ++= f" (then ${r._3.toDouble / s10._3}%.1fx candidates / ${r._6.toDouble / s10._6}%.1fx bytes\n"
        + f"for the further 3x to 30x — linear would be 3.0x)")
      sb ++= f" — the per-shingle\n"
      sb ++= f"fanout bound makes candidate volume linear in postings BY\n"
      sb ++= f"CONSTRUCTION, and the shuffle tracks it. Pairs whose every shared\n"
      sb ++= f"shingle is corpus-common are excluded by design (boilerplate —\n"
      sb ++= f"q82's instrument, not a near-dup signal); DedupSpec pins the\n"
      sb ++= f"quote-in-large-doc pair that Jaccard-LSH misses and this blocking\n"
      sb ++= f"finds.\n"
    }
    sb ++= "\n| cluster-chain regime (shuffled-id path) | rounds to confirmed fixpoint | sec |\n|---|---|---|\n"
    cRows.foreach { case (n, r, s) =>
      sb ++= f"| $n-node chain | $r | $s%.1f s |\n"
    }
    sb ++= "\nConnected components' adversarial shape: a path needs diameter\n"
    sb ++= "rounds under plain min-label propagation (the organic sf0.1\n"
    sb ++= "embedding graph already carries a 20-round chain), so rounds here\n"
    sb ++= "are the scale claim. Star contraction closes each decade of chain\n"
    sb ++= "length for ~a constant more rounds — the O(log²) bound measured —\n"
    sb ++= "and each round shuffles only the edge relation. An unconverged\n"
    sb ++= "maxIter exit throws rather than returning truncated labels.\n"
    locally {
      val (edges, nd, rounds, sec) = ccOrganic
      sb ++= f"\nOrganic graph (q88's substrate, base SF): $edges edges over $nd\n"
      sb ++= f"vectors contract to a confirmed fixpoint in $rounds rounds,\n"
      sb ++= f"$sec%.1f s, and no edge straddles two clusters (checked by\n"
      sb ++= "joining every edge against its endpoints' labels, not assumed).\n"
    }
    locally {
      val (w, p, l) = vRows
      sb ++= "\n| variant events layout (base SF) | sec |\n|---|---|\n"
      sb ++= f"| one-time encode+write | $w%.2f s |\n"
      sb ++= f"| q103 agg, query-time try_parse_json | $p%.2f s |\n"
      sb ++= f"| q103 agg over persisted variant column | $l%.2f s |\n"
      sb ++= f"\nThe persisted layout pays the JSON decode once at write and every\n"
      sb ++= f"repeat query reads the binary variant directly — ${if (p > 0) f"${l / p * 100}%.0f%%" else "—"} of the\n"
      sb ++= "parse-per-query time here, and the shredding-ready layout for\n"
      sb ++= "typed-subcolumn pushdown at 100 TB.\n"
    }
    sb ++= "\n| k-NN batch (fixed corpus, k=10) | batch sec | per-query ms | one topK scan |\n|---|---|---|---|\n"
    kRows.foreach { case (nq, bs, pq, ss) =>
      sb ++= f"| $nq queries | $bs%.2f s | $pq%.1f ms | $ss%.2f s |\n"
    }
    sb ++= "\nknnJoin answers the whole batch in ~one corpus pass (broadcast\n"
    sb ++= "query batch, bounded per-query top-k aggregation): per-query cost\n"
    sb ++= "collapses as the batch grows, where Q separate topK scans would\n"
    sb ++= "extrapolate linearly (Q x the last column). The flat-ish batch\n"
    sb ++= "column is the O(queries*k) shuffle claim, measured.\n"
    sb ++= "\n| IVF probe (trained codebook, nlist=16, 8 queries) | recall@10 vs brute | sec (all queries) |\n|---|---|---|\n"
    ivfRows.foreach { case (np, rec, s) =>
      sb ++= f"| nprobe=$np | ${rec * 100}%.1f%% | $s%.2f s |\n"
    }
    sb ++= "\nThe quality-vs-cost knob, measured: the probed search reads\n"
    sb ++= "~nprobe/nlist of the corpus, recall climbs monotonically (a\n"
    sb ++= "brute-top-k hit found at nprobe=n survives every wider probe —\n"
    sb ++= "IvfSpec pins the monotonicity and the exact-at-full-probe\n"
    sb ++= "endpoint), and the codebook came from Lloyd iterations over a\n"
    sb ++= "half hash-sample — the train-on-a-sample, assign-once recipe\n"
    sb ++= "that holds at 100 TB.\n"
    sb ++= "\n| IVF index store (q112, nlist=16, nprobe=2, 8 queries) | build sec | serve sec | brute full-scan sec | list files read/query | total list files |\n|---|---|---|---|---|---|\n"
    storeRows.foreach { case (k, b, sv, br, pf, tf) =>
      sb ++= f"| ${k}x embeddings | $b%.2f s | $sv%.2f s | $br%.2f s | $pf | $tf |\n"
    }
    sb ++= "\nThe PERSISTED index: build pays one assignment pass + clustered\n"
    sb ++= "write, and every serve reads the nlist-row codebook plus ONLY the\n"
    sb ++= "probed list partitions (the file counts above are the layout's\n"
    sb ++= "nprobe/nlist bound made literal; IvfIndexStoreSpec pins the probe\n"
    sb ++= "ids landing in PartitionFilters). Local wall times are fixed-cost\n"
    sb ++= "dominated — the file ratio is the claim that survives 1000\n"
    sb ++= "executors, where a brute scan reads the corpus per query.\n"
    sb ++= "\n| store maintenance (q122 delete + blue/green rebuild) | ids deleted | rows removed | leaves rewritten | delete sec | rebuild sec |\n|---|---|---|---|---|---|\n"
    maintRows.foreach { case (k, ni, rm, lv, ds, rs) =>
      sb ++= f"| ${k}x embeddings | $ni | $rm | $lv | $ds%.2f s | $rs%.2f s |\n"
    }
    sb ++= "\nDelete-by-id touches <= |ids| leaves (the leaves-rewritten column\n"
    sb ++= "is the bound made literal) but a leaf's rewrite is proportional\n"
    sb ++= "to its size: a bulk-built store packs corpus/nlist rows per leaf,\n"
    sb ++= "so delete wall tracks leaf bytes as the corpus grows — a store\n"
    sb ++= "ingested in batches carries smaller (centroid, batch) leaves and\n"
    sb ++= "cheaper takedowns. The rebuild wall is the offline corpus pass\n"
    sb ++= "(linear by design); its reader-visible cost is zero by\n"
    sb ++= "construction — the snapshot stages dot-prefixed, flips via one\n"
    sb ++= "exclusive manifest entry, and IvfStoreRebuildSpec hammers a live\n"
    sb ++= "reader across the flip.\n"
    sb ++= "\n| postings store (q126, 3-term BM25 k=20) | build sec | serve sec | from-corpus sec | probed files | total files | erase ids | erase rows | erase sec | compact sec | bulk-erase ids | bulk rows | bulk-erase sec |\n|---|---|---|---|---|---|---|---|---|---|---|---|---|\n"
    postingsRows.foreach { case (k, b, sv, cs, pf, tf, ei, er, es, cps, bi, br, bs) =>
      sb ++= f"| ${k}x documents | $b%.2f s | $sv%.2f s | $cs%.2f s | $pf | $tf | $ei | $er | $es%.2f s | $cps%.2f s | $bi | $br | $bs%.2f s |\n"
    }
    sb ++= "\nThe SPARSE serving twin (q126): build pays one tokenization +\n"
    sb ++= "clustered write; every serve reads the KB-scale stats sidecar\n"
    sb ++= "plus ONLY the query terms' buckets (probed vs total files above\n"
    sb ++= "— the <= |term buckets| of 256 layout bound made literal), with\n"
    sb ++= "the pushed In(tok) pruning row groups inside them (key-sorted\n"
    sb ++= "files, PostingsStoreSpec pins predicate and ordering). The\n"
    sb ++= "scaled copies suffix every token, so matched postings stay\n"
    sb ++= "fixed while the store grows 10x — the serve column is the\n"
    sb ++= "flat-probe claim, the from-corpus column the contrast that\n"
    sb ++= "re-tokenizes the corpus per query. Erasure's locate resolves\n"
    sb ++= "through the _docidx sidecar (one doc_id-sorted file per batch;\n"
    sb ++= "the pushed In(doc_id) prunes row groups by their min/max, and\n"
    sb ++= "PostingsStoreSpec pins it in the scan's PushedFilters). The\n"
    sb ++= "rewrite reads only the touched leaves and runs a bounded number\n"
    sb ++= "of jobs per touched batch: one partitioned write each for the\n"
    sb ++= "postings, _termmeta and _blockmeta leaves, one _docidx file, one\n"
    sb ++= "stats row — staged beside hard links to every untouched file and\n"
    sb ++= "committed as one snapshot, so the erase wall tracks the touched\n"
    sb ++= "leaves' bytes, not their count. compact folds the batch tier in\n"
    sb ++= "one offline pass; every mutation is a version commit (readers\n"
    sb ++= "whole-old or whole-new, hammer-spec pinned).\n"
    sb ++= "\n| tiered BM25 serve ('dup'+'the', k=10, unsuffixed copies) | df('the') | exact serve | tiered serve | WAND serve (exact) | tiered recall@10 | head bytes ('the' bucket) | tail bytes (tiered never reads) | WAND cand rows (block-max) | WAND cand rows (per-batch bound) |\n|---|---|---|---|---|---|---|---|---|---|\n"
    tieredRows.foreach { case (k, dfThe, es, ps, ws, rec, hb, tb, cb, cp) =>
      sb ++= f"| ${k}x documents | $dfThe | $es%.2f s | $ps%.2f s | $ws%.2f s | ${rec * 100}%.0f%% | ${hb / 1024} KiB | ${tb / 1024} KiB | $cb | $cp |\n"
    }
    sb ++= "\nThe q130 bound made a line: df('the') grows 10x for real here\n"
    sb ++= "(unsuffixed copies), the exact path's stop-word read grows with\n"
    sb ++= "it, and the tiered serve reads tier 0 only — per term per batch\n"
    sb ++= "<= headSize postings, the partition literal pinned in\n"
    sb ++= "PostingsStoreSpec (which also poisons the tail files to prove\n"
    sb ++= "they are never opened). The tail-bytes column is exactly the\n"
    sb ++= "I/O the tier cut removes from the hot path; tiered recall vs\n"
    sb ++= "the exact top-10 is the measured price (df stays exact via the\n"
    sb ++= "_termmeta sidecar, so only tail-resident contributions are\n"
    sb ++= "lost): a query MIXING a discriminative term with a stop word\n"
    sb ++= "whose per-doc contribution rivals the score gaps near the cut\n"
    sb ++= "line gets its boundary reordered — the structural limit of\n"
    sb ++= "impact-ordered tiers alone. The WAND column (r19) CLOSES it:\n"
    sb ++= "bm25TopKWand serves the EXACT top-10 (asserted row-identical to\n"
    sb ++= "the exact serve at both scales before this table is written) by\n"
    sb ++= "reading the head, excluding docs through the _termmeta\n"
    sb ++= "max-score certificates, and opening a tail ONLY for surviving\n"
    sb ++= "candidate docs — a pushed In(doc_id) over the (tok, doc_id)-\n"
    sb ++= "sorted run, so its wall tracks the CANDIDATE count (flat-ish in\n"
    sb ++= "df) instead of the stop word's O(df) postings; the q132 oracle\n"
    sb ++= "gates the exactness, the poisoned-tail WAND spec pins the skip\n"
    sb ++= "when certificates allow it. The two r20 candidate-rows columns\n"
    sb ++= "measure the BLOCK-MAX refinement (_blockmeta: per-(term, 64-\n"
    sb ++= "posting block) maxima keyed by doc-id range): a doc's tail\n"
    sb ++= "bound is its OWN block's, or provably zero when no block covers\n"
    sb ++= "its id — so one outlier posting poisons one block, not the\n"
    sb ++= "whole tail (the adversary spec constructs exactly that and pins\n"
    sb ++= "the shrink; both paths serve the identical exact rows). A query\n"
    sb ++= "whose every term fits the head DISPATCHES to the exact serve\n"
    sb ++= "before any certificate assembly (wand_dispatch_rare in the\n"
    sb ++= "JSON — asserted to TRACK the layout: true at 1x where\n"
    sb ++= "df('dup') fits the head, false at 10x where the same term has\n"
    sb ++= "outgrown it and certificates must engage) — the common\n"
    sb ++= "rare-term query pays nothing for WAND being the entry point,\n"
    sb ++= "and past\n"
    sb ++= "the driver-summary cap (1M head rows) WAND falls back to the\n"
    sb ++= "exact both-tier path, so driver state is bounded no matter the\n"
    sb ++= "batch count (compactLevel below is the remedy that keeps the\n"
    sb ++= "cap from ever engaging). WAND's higher ABSOLUTE wall at\n"
    sb ++= "these sizes is its fixed assembly overhead (two extra bounded\n"
    sb ++= "driver pulls), while the exact column is the one carrying the\n"
    sb ++= "O(df) term — read each column's GROWTH across the decade, not\n"
    sb ++= "the absolutes at one scale. All three serves are\n"
    sb ++= "footer/scheduler-bound here — the BYTES columns are the 100 TB\n"
    sb ++= "claim, the walls the sanity check.\n"
    sb ++= "\n| tiered recall@10 vs headSize ('dup'+'the', k=10) | head 64 | head 128 | head 256 | head 512 |\n|---|---|---|---|---|\n"
    headCurveRows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, rows) =>
      val byHs = rows.map(r => r._2 -> r._4).toMap
      val dfDup = rows.head._3
      sb ++= f"| ${k}x documents (df('dup') = $dfDup) | ${byHs(64) * 100}%.0f%% | ${byHs(128) * 100}%.0f%% | ${byHs(256) * 100}%.0f%% | ${byHs(512) * 100}%.0f%% |\n"
    }
    sb ++= "\nThe headSize-sizing evidence, read honestly: recall@10 is\n"
    sb ++= "nearly INSENSITIVE to headSize on this fixture — an 8x head\n"
    sb ++= "growth buys 40% -> 50% at 1x and even a 64-head serves the\n"
    sb ++= "exact top-10 at 10x — because recall@k only needs the TOP-k\n"
    sb ++= "docs' postings in head, and the impact order correlates with\n"
    sb ++= "the true contribution, so the winners sit near the top of\n"
    sb ++= "every cut; the 1x loss is the BOUNDARY REORDER (tail-resident\n"
    sb ++= "contributions of mid-rank docs near the cut line), which no\n"
    sb ++= "affordable head absorbs (df('the') = 3839 here). So headSize\n"
    sb ++= "is NOT the recall lever for a mixed query — the WAND\n"
    sb ++= "certificates are (exactness at near-tiered cost, the column\n"
    sb ++= "above). What headSize DOES buy is the df <= headSize EXACTNESS\n"
    sb ++= "CLASS: terms under the cut serve exactly by construction —\n"
    sb ++= "the property q130's oracle leans on, and the real lesson of\n"
    sb ++= "the r17 retune (head 64 pushed the battery's rare family, df\n"
    sb ++= "250 at sf0.1, OUT of that class and the hash gate caught it —\n"
    sb ++= "an effect this recall@10 column is too coarse to see). 256\n"
    sb ++= "keeps the battery's discriminative terms in the class at\n"
    sb ++= "every SF at ~KiB head bytes; production sizes the head to\n"
    sb ++= "max(expected discriminative df per batch, serving k budget)\n"
    sb ++= "and reaches for WAND when the mixed-query caveat matters; the\n"
    sb ++= "scaladoc on DefaultHeadSize cites this table.\n"
    locally {
      val (folds, maxB, fw, mf, naive, store, isec, wandHead, wandCand) = levelRows
      sb ++= "\n| leveled compaction (50-batch ingest, cap 8) | folds | max committed batches seen | fold-written bytes (total) | max single-fold bytes | repeated-full-compact bytes (equiv) | final store bytes | WAND headRows (cap 1,000,000) | WAND cand rows |\n|---|---|---|---|---|---|---|---|---|\n"
      sb ++= f"| compactLevel after every append ($isec%.0f s ingest) | $folds | $maxB | ${fw / 1024} KiB | ${mf / 1024} KiB | ${naive / 1024} KiB | ${store / 1024} KiB | $wandHead | $wandCand |\n"
      sb ++= "\nThe WAND columns are the driver-summary leash on the leveled\n"
      sb ++= "store: the head summary is layout-bounded at headSize x\n"
      sb ++= "batches x |terms| and grows with BATCH COUNT, so leveling is\n"
      sb ++= "what keeps it far under WandMaxHeadRows — the serve above ran\n"
      sb ++= "the certificate path (exactFallback and fullTailFallback\n"
      sb ++= "asserted false, output asserted exact), not the cap's escape\n"
      sb ++= "hatch or a whole-tail read.\n"
      sb ++= "\nThe r19 verdict's top item, measured: every serving bound that\n"
      sb ++= "is linear in committed batch count (head read, WAND driver\n"
      sb ++= "summary, _termmeta fan-out, per-batch footers) is capped iff\n"
      sb ++= "the count is, and compactLevel holds it AT the cap across the\n"
      sb ++= "whole 50-batch ingest (max-seen column) by folding only the\n"
      sb ++= "SMALLEST batches into one — untouched batches enter the next\n"
      sb ++= "version as hard links (zero data bytes; a distributed\n"
      sb ++= "store writes a manifest of unchanged files instead, the LSM\n"
      sb ++= "discipline). The bytes columns carry the claim: total\n"
      sb ++= "fold-written vs what 'full compact at the same cadence' would\n"
      sb ++= "have rewritten, and no single fold approaches the store's\n"
      sb ++= "size. Serving over the leveled store is asserted row-identical\n"
      sb ++= "to the from-corpus exact scorer before this table is written\n"
      sb ++= "(and q137's oracle gates the same equality at three SFs);\n"
      sb ++= "folded-batch replays are refused through the _folded registry\n"
      sb ++= "(spec-pinned), and the reader hammer re-ran across a live\n"
      sb ++= "leveled fold (whole-old or whole-new, never torn).\n"
    }
    locally {
      val (nbF, maxB, maxL, nlF, isec) = ivfMergeRows
      sb ++= "\n| ivf leaf merge (48 appends, cap 8) | final batches | max batches seen | max per-list leaf dirs seen | final max per-list leaf dirs |\n|---|---|---|---|---|\n"
      sb ++= f"| mergeLeaves after every append ($isec%.0f s ingest) | $nbF | $maxB | $maxL | $nlF |\n"
      sb ++= "\nThe same discipline on the vector store's smaller dose of the\n"
      sb ++= "disease: appends accumulate (centroid_id, ingest_batch) leaves,\n"
      sb ++= "and every probed scan pays the per-list file count. The merge\n"
      sb ++= "folds the smallest batches per list — content-neutral (no\n"
      sb ++= "reassignment, no codebook change), so serving the merged store\n"
      sb ++= "is asserted row-identical to the in-memory probe path over the\n"
      sb ++= "full corpus before this table is written (q139's oracle gates\n"
      sb ++= "the same equality), single and batched and ADC alike\n"
      sb ++= "(spec-pinned); folded replays are refused via _folded.\n"
    }
    sb ++= "\n| containment probe over ~16 KiB row groups (25-doc batch) | files | row groups | probe sec |\n|---|---|---|---|\n"
    rgContRows.foreach { case (k, files, groups, s) =>
      sb ++= f"| ${k}x registry | $files | $groups | $s%.2f s |\n"
    }
    sb ++= "\n| postings serve over ~16 KiB row groups (3-term BM25) | probed files | probed row groups | serve sec |\n|---|---|---|---|\n"
    rgPostRows.foreach { case (k, files, groups, s) =>
      sb ++= f"| ${k}x store | $files | $groups | $s%.2f s |\n"
    }
    sb ++= "\n(The containment files column counts the COMPACTED base files\n"
    sb ++= "plus the single-group registration files the timing probes\n"
    sb ++= "themselves append — processBatch registers its batch, the\n"
    sb ++= "cont_probe house behavior — so groups/file density lives in\n"
    sb ++= "the compacted base: subtract one single-group file per\n"
    sb ++= "appended registration.)\n"
    sb ++= "\nThe row-group tier engaged FOR REAL (the r17 verdict's named\n"
    sb ++= "gap): both key-sorted stores rewritten into ~16 KiB row groups —\n"
    sb ++= "groups/file >> 1 above, vs the single-group toy files every\n"
    sb ++= "earlier flat line was measured on — so the pushed eq leaves are\n"
    sb ++= "now skipping row groups INSIDE files on footer min/max stats,\n"
    sb ++= "not just whole files. The probe walls stay near-flat across the\n"
    sb ++= "decade under that regime, which is the claim the 100 TB story\n"
    sb ++= "actually needs (production block sizes mean many groups per\n"
    sb ++= "file; file-level rejection alone would degrade to O(file bytes)\n"
    sb ++= "the moment a file straddles a match).\n"
    sb ++= "\n| hybrid retrieval recall@10 (two-signal labeled fixture, 8 queries) | recall |\n|---|---|\n"
    recallRows.foreach { case (m, ppm, _, _) =>
      sb ++= f"| $m | ${ppm / 10000.0}%.1f%% |\n"
    }
    sb ++= "\nWHY the RRF hybrid exists, measured (q125/q128 pin only its\n"
    sb ++= "arithmetic): relevance = each query doc's lexical near-dups\n"
    sb ++= "(exact token Jaccard >= 0.4) UNION its 3 nearest exact-cosine\n"
    sb ++= "neighbors — one signal per modality, because the synthetic\n"
    sb ++= "embeddings are deliberately unaligned with the texts (near-dup\n"
    sb ++= "text pairs measure median cosine ~= the random baseline), which\n"
    sb ++= "is precisely the regime where a single retriever is blind to\n"
    sb ++= "the other's relevant set. Fused >= max(single) is pinned\n"
    sb ++= "deterministically in RetrievalQualitySpec at sf0.001/sf0.01;\n"
    sb ++= "this table is the bench-corpus number.\n"
    sb ++= "\n| IVF-PQ store (q118, m=8 ksub=16, nprobe=2, refine=4, 8 queries) | build sec | raw serve sec | ADC serve sec | raw scan KiB/query | ADC scan KiB/query | scan-bytes ratio |\n|---|---|---|---|---|---|---|\n"
    pqStoreRows.foreach { case (k, b, rs, as_, rb, ab) =>
      val ratio = if (ab > 0) rb.toDouble / ab else Double.NaN
      sb ++= f"| ${k}x embeddings | $b%.2f s | $rs%.2f s | $as_%.2f s | ${rb / 1024} KiB | ${ab / 1024} KiB | $ratio%.1fx |\n"
    }
    sb ++= "\nSame store, same probed lists, same 8 queries — the two paths\n"
    sb ++= "differ in WHAT they read off the probed lists: the raw path\n"
    sb ++= "scans the float32[64] column, the ADC path scans the codes\n"
    sb ++= "column (column pruning, pinned in IvfPqStoreSpec's ReadSchema\n"
    sb ++= "test) and re-reads the wide column for just refine*k=40 pushed\n"
    sb ++= "ids. The scan columns are the parquet column-chunk bytes of the\n"
    sb ++= "probed lists per column set — the layout's own numbers (task\n"
    sb ++= "bytesRead at this corpus size measures footers and codebook\n"
    sb ++= "fetches, not data pages, so the footer-derived figure is the\n"
    sb ++= "honest one). That ratio is the term that multiplies by corpus\n"
    sb ++= "size: a probed list at 100 TB is nprobe/nlist of the corpus per\n"
    sb ++= "query, and codes-instead-of-vectors divides exactly it. Local\n"
    sb ++= "wall clocks are scheduler/fixed-cost dominated (the ADC path\n"
    sb ++= "runs 2 jobs per query vs raw's 1 — visible in the absolutes).\n"
    sb ++= "\n| PQ refine knob (x1, same 2 probed lists, vs exact probed top-10) | recall@10 |\n|---|---|\n"
    pqRecallRows.foreach { case (r, rec) =>
      sb ++= f"| refine=$r | ${rec * 100}%.1f%% |\n"
    }
    sb ++= "\nIsolates the PQ approximation from probe-selection loss (the\n"
    sb ++= "ivf_recall table above measures that axis): the rescore is exact\n"
    sb ++= "over refine*k ADC candidates, so recall climbs with refine and\n"
    sb ++= "the cost is the rescore's pushed point-read width — the measured\n"
    sb ++= "quality-vs-bytes knob of the IVF-PQ serving shape (q118/q119).\n"
    sb ++= "\n| dispatcher cycle depth | sec | sec/1k rows |\n|---|---|---|\n"
    dRows.foreach { case (n, s) =>
      sb ++= f"| $n | $s%.2f s | ${s * 1000 / n}%.3f |\n"
    }
    sb ++= "\n| registry file growth, 60 ingest batches | probe batches 6-15 | probe last 10 | files at end |\n|---|---|---|---|\n"
    fRows.foreach { case (c, first, last, files) =>
      val label = if (c == 0) "no compaction" else s"compactEvery=$c"
      sb ++= f"| $label | $first%.2f s | $last%.2f s | $files |\n"
    }
    sb ++= "\nThe append-only registry accrues one file per touched (band, bucket)\n"
    sb ++= "partition per micro-batch, so probe time grows with BATCH COUNT even\n"
    sb ++= "while registry rows grow slowly — file opens/footers, not data,\n"
    sb ++= "dominate. The in-gate cadence (`IncrementalDedup.gate(compactEvery)`)\n"
    sb ++= "rewrites to one file per partition every N batches and bounds the\n"
    sb ++= "trend. Read the TREND, not the absolute columns: each cadence-run\n"
    sb ++= "window includes its in-line compaction pass (batches 15/30/45/60),\n"
    sb ++= "which is why its absolutes sit higher at this short horizon; the\n"
    sb ++= "append-only column compounds with batch count (~86k batches/day at a\n"
    sb ++= "1 s trigger) while the cadence column and its file count stay\n"
    sb ++= "bounded. Size N so the amortized compaction (O(registry)/N) stays\n"
    sb ++= "under the per-batch probe saving — the table is the sizing evidence.\n"
    sb ++= "\n| reconcile (chain canonicalization) | nodes | links canonicalized | sec |\n|---|---|---|---|\n"
    rcRows.foreach { case (k, nodes, links, s) =>
      sb ++= f"| vs ${k}x-corpus registry | $nodes | $links | $s%.2f s |\n"
    }
    sb ++= "\n`IncrementalDedup.reconcile` is a PERIODIC batch job (run it like\n"
    sb ++= "compaction — `gate(reconcileEvery)` schedules it in-stream), not\n"
    sb ++= "per-batch work: one grouped aggregate over the registry, star\n"
    sb ++= "contraction over KB-scale edges, two id-keyed shuffle joins —\n"
    sb ++= "O(corpus) per run, amortized over the cadence. The links column\n"
    sb ++= "counts real manufactured B~A~R chains (out-of-order ids dup'ing\n"
    sb ++= "corpus texts) found and repointed; wall time should scale\n"
    sb ++= "~linearly with the registry, and nothing corpus-derived is ever\n"
    sb ++= "broadcast or pulled to the driver beyond the returned counts.\n"
    Files.write(Paths.get(out),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
