package graft.sources

import graft.functions.GraftFunctions
import graft.operators.Similarity
import graft.queue.VersionedDir
import graft.queue.VersionedDir.commitNext
import graft.streaming.RegistryIO
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) ANN index — the durable artifact a
  * retrieval/serving system consumes, beside the in-memory probe path
  * ([[graft.operators.Similarity.ivfTopK]]) the battery already gates.
  *
  * The reference has no vector surface at all (its core is CDC/webhook
  * plumbing — `/root/reference/src/cdc_webhook.c:153`); this is EXT training-data
  * surface, the index twin of the other persisted layouts
  * ([[VariantEventStore]] for semi-structured events, [[ShardWriter]] for
  * epoch schedules): build cost paid once at write time, query cost bounded
  * by the LAYOUT, not by operator discipline.
  *
  * Layout: inverted lists hive-partitioned by `centroid_id` (one directory
  * per list, `repartition(nlist, centroid_id)` bounding each to one task's
  * files), plus the KB-scale codebook under `_codebook/` — an
  * underscore-prefixed path, so partition discovery of the lists never
  * sees it. The whole layout is one [[VersionedDir]] snapshot under the
  * store root, and every mutation commits the next one ([[rebuild]]).
  *
  * Why this is THE 100 TB shape: [[Similarity.ivfTopK]] must re-assign the
  * corpus on every query (fine inside one job where the assignment plan is
  * shared; useless as a serving artifact). Here a query
  *
  *   1. scores the query vector against the codebook — a driver-side
  *      read of nlist rows (KBs; the ONLY collect, bounded by nlist);
  *   2. turns the nprobe winning list ids into a LITERAL partition
  *      filter, so the parquet scan reads nprobe/nlist of the corpus —
  *      pruning enforced by the layout and pinned in IvfIndexStoreSpec;
  *   3. scans just those lists with the codegen'd
  *      [[graft.functions.FloatVectorDot]] and takes top-k — one
  *      TakeOrderedAndProject, no shuffle of anything corpus-sized.
  *
  * q112 gates the whole build→persist→prune→score chain against q53's
  * DuckDB oracle (same deterministic first-`nlist`-vectors codebook, same
  * query, same output shape), so index staleness bugs hash-fail.
  */
object IvfIndexStore {

  /** Build the index at `dir` as its next snapshot ([[rebuild]], whose
    * version it drops): one assignment pass over the corpus
    * ([[Similarity.ivfAssignWith]] — broadcast codebook, map-side
    * scoring, partial+final argmax), then one clustered write. `codebook`
    * defaults to the deterministic first-`nlist`-vectors sample (q53's);
    * pass [[Similarity.ivfTrain]]'s output for a trained index. */
  def build(emb: DataFrame, dir: String, nlist: Int = 16,
            codebook: Option[DataFrame] = None,
            idCol: String = "vec_id", vecCol: String = "embedding",
            pq: Option[graft.operators.ProductQuantizer.Codebooks] = None): Unit = {
    rebuild(emb, dir, nlist, codebook, idCol, vecCol, pq)
    ()
  }

  private val PqDir = "/_pq_codebook"

  /** Write the whole store — lists, `_codebook`, `_pq_codebook` — into
    * the empty stage `dst`. The bulk build is batch -1 of the
    * ingest_batch partition level that [[sink]] appends into (streaming
    * batch ids start at 0, so no append can collide with it). */
  private def stageStore(emb: DataFrame, dst: Path, nlist: Int,
                         codebook: Option[DataFrame], idCol: String, vecCol: String,
                         pq: Option[graft.operators.ProductQuantizer.Codebooks]): Unit = {
    val cents = codebook.getOrElse(
      emb.filter(col(idCol) < nlist)
        .select(col(idCol).cast("long").as("centroid_id"), col(vecCol).as("cvec")))
    require(!emb.columns.contains("codes") && !emb.columns.contains(BatchCol),
      s"ivf store: input must not carry 'codes'/'$BatchCol' (layout-reserved)")
    // EVERY input column lands in the lists beside the vector (only the
    // assignment's cdot_q is dropped): metadata rides the layout, so a
    // filtered-ANN predicate (q121) pushes to the probed scan instead of
    // paying a post-serve join
    val assigned = Similarity.ivfAssignWith(emb, cents, idCol, vecCol)
      .drop("cdot_q")
    // with PQ: the codes column rides the SAME clustered write (map-side
    // argmin against literal codebooks — no second corpus pass, no join),
    // so every list file carries (id, vector, codes) and the ADC serving
    // scan can column-prune down to (id, codes)
    writeLeaves(pq.map(cb => assigned.withColumn("codes",
        graft.operators.ProductQuantizer.codesCol(emb.sparkSession, cb, vecCol)))
      .getOrElse(assigned)
      .withColumn(BatchCol, lit(-1L))
      .repartition(nlist, col("centroid_id")), dst)
    // the same null-code gate [[appendBatch]] enforces, for bulk builds: a
    // null or wrong-dim vector encodes to null codes, which ADC serving
    // would silently drop (null approx_q sorts last) and qualityReport's
    // sum would skip. Checked from the STAGED lists' codes column (one
    // narrow columnar scan — no second encode pass over the corpus), so a
    // lossy build never commits.
    if (pq.isDefined) {
      val badCodes = readLists(emb.sparkSession, dst.toString)
        .filter(exists(col("codes"), _.isNull) || col("codes").isNull).count()
      require(badCodes == 0,
        s"ivf build: $badCodes vector(s) encode to null PQ codes (null or " +
          "wrong-dim input vs the pq codebook) — refusing to commit the " +
          "store; fix the input and rebuild")
    }
    // nlist rows — one file keeps the serving read a single footer fetch
    cents.coalesce(1).write.parquet(s"$dst/_codebook")
    // m·ksub rows (KBs), same single-file discipline
    pq.foreach(cb => graft.operators.ProductQuantizer
      .codebooksToDF(emb.sparkSession, cb)
      .coalesce(1).write.parquet(dst.toString + PqDir))
  }

  /** Write list rows, which carry their `centroid_id` and `ingest_batch`,
    * as leaves into the stage `dst`, beside whatever it carries. */
  private def writeLeaves(rows: DataFrame, dst: Path): Unit =
    rows.write.mode(SaveMode.Append)
      .partitionBy("centroid_id", BatchCol).parquet(dst.toString)

  /** The list scan of a resolved snapshot, SCOPED to the list partitions
    * ([[graft.streaming.RegistryIO.partitionPaths]]): partition discovery
    * never walks the codebooks or the `_folded` registry beside them. */
  private def readLists(spark: SparkSession, root: String): DataFrame =
    spark.read.option("basePath", root)
      .parquet(RegistryIO.partitionPaths(root, "centroid_id="): _*)

  /** Build the whole store (lists + `_codebook` + `_pq_codebook`) from an
    * empty base into a [[VersionedDir]] stage and commit it as the next
    * snapshot — the one commit skeleton every mutation of this store runs
    * ([[VersionedDir.commitNext]]; see [[VersionedDir]] for the commit,
    * crash and retention rules). Every read path resolves ONCE per
    * serving call ([[VersionedDir.resolveDir]]) and stays on that
    * snapshot, so a flip mid-query is whole-store-before or
    * whole-store-after, and a superseded snapshot stays readable for
    * [[VersionedDir.ReaderGraceMs]]. A crashed rebuild's snapshot is never
    * served, and a writer that loses the race — a concurrent rebuild, or
    * an append or delete that resolved the old snapshot — gets
    * [[graft.queue.ConcurrentWriterException]] rather than landing in a
    * superseded snapshot; the loser re-runs against the new one. Returns
    * the committed version. */
  def rebuild(emb: DataFrame, dir: String, nlist: Int = 16,
              codebook: Option[DataFrame] = None,
              idCol: String = "vec_id", vecCol: String = "embedding",
              pq: Option[graft.operators.ProductQuantizer.Codebooks] = None): Long =
    commitNext(dir) { s =>
      stageStore(emb, s.dst, nlist, codebook, idCol, vecCol, pq); true
    }.get.version

  /** True iff the store at `dir` was built with PQ codes ([[build]] with
    * `pq`), i.e. its snapshot has a `_pq_codebook/`. Hadoop-FS-general,
    * like every other store-layout check. */
  def hasPq(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(VersionedDir.resolveDir(dir) + PqDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private val pqCodebookMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), graft.operators.ProductQuantizer.Codebooks]()

  /** The persisted PQ codebooks — fails loudly when the store was built
    * without PQ. Memoized per (session, [[writtenAs]]) like
    * [[codebookRows]] and for the same reason: the ADC faces and every
    * append re-read this KB-scale relation. */
  def pqCodebook(spark: SparkSession, dir: String)
      : graft.operators.ProductQuantizer.Codebooks = {
    val root = VersionedDir.resolveDir(dir)
    require(hasPq(spark, root),
      s"ivf store at $dir has no _pq_codebook — built without PQ; " +
        "rebuild with pq=Some(...)")
    def read() = graft.operators.ProductQuantizer.codebooksFromDF(
      spark.read.parquet(root + PqDir))
    if (sys.env.contains("SPARK_GRAFT_NOCACHE")) read()
    else pqCodebookMemo.computeIfAbsent((spark, writtenAs(spark, root + PqDir)), _ => read())
  }

  /** The name of the first data file under `relDir`, the key of the
    * codebook memos: every write names its files afresh (a job UUID), and
    * a commit carries an untouched codebook by hard link under the same
    * name, so the key holds across appends, deletes and merges and
    * changes with every build. Hadoop-FS-general, one driver listing. */
  private def writtenAs(spark: SparkSession, relDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(relDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
      .min
  }

  /** The persisted codebook: (centroid_id, cvec), nlist rows. */
  def codebook(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(VersionedDir.resolveDir(dir) + "/_codebook")

  /** Driver-resident copy of the KB-scale coarse codebook, memoized per
    * (session, [[writtenAs]]). Probe selection runs per serve; reading
    * nlist rows through a distributed scan job every time was pure serve
    * latency (r21: one job per probeLists call, two per batch serve).
    * The key names the codebook's written file, which only a build
    * replaces, so the memo can never serve a stale codebook, and a commit
    * that carries the codebook (an append, delete or merge) keeps it warm.
    * In-memory, per-JVM, first consumer pays the read — the SharedStages
    * discipline, with the same A/B knob. */
  private val codebookMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Array[(Long, Array[Float])]]()

  private[sources] def codebookRows(spark: SparkSession, root: String): Array[(Long, Array[Float])] = {
    def read() = codebook(spark, root)
      .select(col("centroid_id").cast("long"), col("cvec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    if (sys.env.contains("SPARK_GRAFT_NOCACHE")) read()
    else codebookMemo.computeIfAbsent(
      (spark, writtenAs(spark, root + "/_codebook")), _ => read())
  }

  /** Driver-side mirror of [[graft.functions.FloatVectorDot]] + the
    * quantized cut: double accumulation in index order, floor to
    * millionths — bit-identical to the expression the serving scans run
    * (the [[Similarity.planeCoef]] mirror discipline), so probe selection
    * computed on the driver picks exactly the lists the oracle's SQL
    * replay picks. */
  private def quantizedDot(a: Array[Float], b: Array[Float]): Long =
    if (a.length != b.length) Long.MinValue // expression yields null = sorts last
    else {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      math.floor(acc * 1000000L).toLong
    }

  /** The `nprobe` list ids whose centroids score highest against
    * `queryVec` — the driver-side probe-selection step. Quantized-dot
    * ordering with centroid-id ties, exactly [[Similarity.ivfTopK]]'s.
    * Pure driver arithmetic over the memoized codebook: no Spark job per
    * serve (the pre-r21 shape ran a scan+sort+limit job per call). */
  def probeLists(spark: SparkSession, dir: String, queryVec: Seq[Float],
                 nprobe: Int): Seq[Long] = {
    val q = queryVec.toArray
    probeOf(codebookRows(spark, VersionedDir.resolveDir(dir)), q, nprobe)
  }

  /** (cdot desc, centroid_id asc) top-`nprobe` — negation-free ordering so
    * a Long.MinValue sentinel (the null-dot case) still sorts last. */
  private def probeOf(cb: Array[(Long, Array[Float])], q: Array[Float],
                      nprobe: Int): Seq[Long] =
    cb.map { case (cid, cv) => (cid, quantizedDot(cv, q)) }
      .sortBy { case (cid, cdot) => (cdot, -cid) }(
        Ordering[(Long, Long)].reverse)
      .take(nprobe)
      .map(_._1).toSeq

  /** Serve one ANN query from the persisted index: probe selection on the
    * codebook, then top-k over ONLY the probed lists. The probe ids land
    * as literals in the scan's partition filter — the nprobe/nlist read
    * bound is visible in the plan, not just the prose.
    *
    * `where` is the FILTERED-ANN knob (q121): a predicate over the store's
    * metadata columns ([[build]] lands every input column in the lists, so
    * the filter PUSHES to the probed scan — PushedFilters, no post-serve
    * join). Semantics are post-filter-within-probed-lists: exact top-k
    * over the filtered rows of the probed lists, so a selective predicate
    * thins candidates and the honest remedy is widening `nprobe` (the
    * over-probe knob; at nprobe = nlist the result is exactly brute force
    * over the filtered corpus — pinned in IvfIndexStoreSpec). */
  def topK(spark: SparkSession, dir: String, queryVec: Seq[Float],
           k: Int, nprobe: Int = 2, idCol: String = "vec_id",
           vecCol: String = "embedding",
           where: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val root = VersionedDir.resolveDir(dir) // one snapshot for probe AND scan
    val probes = probeLists(spark, root, queryVec, nprobe)
    val pruned = readLists(spark, root)
      .filter(col("centroid_id").isin(probes: _*))
    where.map(pruned.filter).getOrElse(pruned)
      .select(col(idCol), Similarity.quantize(
        GraftFunctions.vecDot(spark, col(vecCol), typedLit(queryVec))).as("sim_q"))
      .orderBy(col("sim_q").desc, col(idCol))
      .limit(k)
  }

  /** Filtered ANN with ADAPTIVE over-probe — the closed-loop form of
    * [[topK]]'s `where` knob: a selective predicate thins the probed
    * lists' candidates, so a static nprobe under-fills k and the static
    * remedy (hand-picking a wider nprobe, q121) needs the operator to
    * guess selectivity. Here the probe widens geometrically (×2 from
    * `nprobe`) until the filtered result fills `k` or every list is
    * probed — at most log₂(nlist) bounded serving passes, each exactly
    * [[topK]]. The endpoint nprobe = nlist is exactly brute force over
    * the filtered corpus (the spec-pinned identity), so the loop's
    * guarantee is honest: k rows when the filtered corpus has k, else
    * every matching row — while an early stop keeps ANN semantics (k
    * rows from the probed lists, not necessarily the global top-k; the
    * trade every IVF query makes).
    *
    * The `res.count()` per step is a bounded serving-result count (≤ k
    * rows), not a corpus action. */
  def topKAdaptive(spark: SparkSession, dir: String, queryVec: Seq[Float],
                   k: Int, where: org.apache.spark.sql.Column,
                   nprobe: Int = 2, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val root = VersionedDir.resolveDir(dir) // the whole widening loop serves one snapshot
    // nlist from the memoized driver-resident codebook — no count job
    val nlist = codebookRows(spark, root).length
    var np = math.max(1, math.min(nprobe, nlist))
    var res = topK(spark, root, queryVec, k, np, idCol, vecCol, Some(where))
    while (np < nlist && res.count() < k) {
      np = math.min(nlist, np * 2)
      res = topK(spark, root, queryVec, k, np, idCol, vecCol, Some(where))
    }
    res
  }

  /** Serve a BATCH of ANN queries from the persisted index in ONE pruned
    * corpus pass — the retrieval-service shape ([[graft.operators
    * .Similarity.knnJoin]]'s batch discipline, answered from the store
    * instead of a full scan). [[topK]] serves one query; a service draining
    * a request queue must not pay one scan per query when their probed
    * lists overlap.
    *
    *   1. probe selection for ALL queries at once: the query batch joins
    *      the broadcast KB-scale codebook, and a per-query rank window
    *      (batch-sized input, nothing corpus-grained) keeps each query's
    *      `nprobe` best lists — quantized-dot ordering with centroid-id
    *      ties, exactly [[probeLists]]';
    *   2. the UNION of probed list ids (≤ min(nlist, |batch|·nprobe),
    *      a bounded driver pull like [[probeLists]]' codebook read) lands
    *      as literals in ONE scan's partition filter — the corpus read is
    *      the union of probed lists, shared across queries, not a scan per
    *      query;
    *   3. each scanned vector meets ONLY the queries that probed its list
    *      (broadcast hash join against the per-query probe table — q83's
    *      broadcast-query-batch discipline), is scored with the codegen'd
    *      [[graft.functions.FloatVectorDot]], and the per-query top-k is
    *      the bounded [[graft.operators.TopKAggregator]] — the shuffle
    *      carries O(queries·k) partial buffers, never the scanned lists.
    *
    * Output matches [[graft.operators.Similarity.knnJoin]]'s
    * `(query_id, rn, vec_id, sim_q)` — per query, the same rows a
    * [[topK]] call with the same parameters returns (IvfIndexStoreSpec
    * pins the equivalence; q115 hash-gates the chain against a DuckDB
    * replay of probe selection + scoring). */
  def topKBatch(spark: SparkSession, dir: String, queries: DataFrame,
                k: Int, nprobe: Int = 2, idCol: String = "vec_id",
                vecCol: String = "embedding", queryIdCol: String = "query_id",
                queryVecCol: String = "query_vec"): DataFrame = {
    import spark.implicits._
    val root = VersionedDir.resolveDir(dir) // one snapshot for probes AND scan
    // probe selection is DRIVER arithmetic over the memoized codebook
    // (the query batch is the service's bounded request payload, exactly
    // [[probeLists]]' contract ×|batch|): the pre-r21 shape ran a
    // crossJoin+window+checkpoint job plus a distinct+collect job per
    // serve to compute |batch|·nlist quantized dots — KB-scale work. The
    // per-query cut is [[probeOf]], bit-identical to the old rank window
    // (same quantized dot, same (cdot desc, centroid_id) order).
    val qvecs = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol))
      .as[(Long, Seq[Float])].collect().toSeq
    val cb = codebookRows(spark, root)
    val probeRows = qvecs.flatMap { case (qid, qv) =>
      probeOf(cb, qv.toArray, nprobe).map(cid => (qid, qv, cid)) }
    val probes = probeRows.toDF(queryIdCol, queryVecCol, "centroid_id")
    val probedLists = probeRows.map(_._3).distinct.sorted
    readLists(spark, root)
      .filter(col("centroid_id").isin(probedLists: _*))
      .join(broadcast(probes), Seq("centroid_id"))
      .select(col(queryIdCol).cast("long").as(queryIdCol),
        col(idCol).cast("long").as(idCol),
        Similarity.quantize(
          GraftFunctions.vecDot(spark, col(vecCol), col(queryVecCol))).as("sim_q"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      // sim_q is integer millionths (|v| ≤ 1e6 · dims) — exact in Double
      .mapValues(t => graft.operators.ScoredId(t._3.toDouble, t._2))
      .agg(new graft.operators.TopKAggregator(k).toColumn.name("topk"))
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case (s, i) => (qid, i + 1, s.id, s.score.toLong) }
      }
      .toDF(queryIdCol, "rn", idCol, "sim_q")
  }

  /** Serve one ANN query from a PQ-built store WITHOUT reading the raw
    * vectors of the probed lists — the IVF-PQ serving shape
    * ([[graft.operators.ProductQuantizer.ivfPqTopK]]'s algebra, answered
    * from the persisted layout):
    *
    *   1. probe selection on the KB-scale codebook ([[probeLists]]);
    *   2. ADC over the probed lists' CODES ONLY: the query's m×ksub dot
    *      table folds in as literals, and the scan column-prunes to
    *      `(idCol, codes)` — at the 8×16 default the codes column is ~32×
    *      narrower than the float32[64] vectors, so the bytes actually
    *      read off the probed lists shrink by that factor (ReadSchema is
    *      pinned in IvfPqStoreSpec: no `vecCol` in the ADC scan);
    *   3. the top `refine·k` ADC candidates (a bounded driver pull,
    *      exactly [[probeLists]]' scale) rescore EXACTLY against their raw
    *      vectors through a second scan that prunes to the probed
    *      partitions AND pushes `idCol IN (candidates)` to parquet
    *      (PushedFilters — row-group stats skip everything else), so the
    *      wide column is read for ≤ refine·k rows, not the probed lists.
    *
    * The candidate cut is quantized with an id tiebreak (the battery's
    * determinism discipline), so the refined set — and therefore the
    * exact-rescored answer — is replayable by the q118 DuckDB oracle:
    * recall vs brute force is DEFINED by (nprobe, refine), never silent.
    */
  def adcTopK(spark: SparkSession, dir: String, queryVec: Seq[Float],
              k: Int, nprobe: Int = 2, refine: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val root = VersionedDir.resolveDir(dir) // one snapshot: probe, ADC, rescore
    val probes = probeLists(spark, root, queryVec, nprobe)
    val candIds = adcCandidates(spark, root, queryVec, probes, refine * k, idCol)
      .select(col("id")).as[Long].collect().toSeq.sorted
    readLists(spark, root)
      .filter(col("centroid_id").isin(probes: _*) && col(idCol).isin(candIds: _*))
      .select(col(idCol), Similarity.quantize(
        GraftFunctions.vecDot(spark, col(vecCol), typedLit(queryVec))).as("sim_q"))
      .orderBy(col("sim_q").desc, col(idCol))
      .limit(k)
  }

  /** Serve a BATCH of ANN queries from a PQ-built store — [[topKBatch]]'s
    * service shape on the COMPRESSED path: ONE codes-only scan of the
    * probed-list union answers every query's ADC stage, then one pushed
    * point read rescores all surviving candidates exactly.
    *
    *   1. per-query probe selection on the broadcast codebook
    *      ([[topKBatch]]'s rank window, batch-scale);
    *   2. the per-query ADC tables become a BROADCAST relation
    *      `(query_id, tflat: array<double>[m·ksub])` (KBs — the tables are
    *      driver-side by design, there are just |batch| of them now), and
    *      the ADC sum is a fixed-order fold over the m subspaces
    *      (`aggregate(sequence(0, m-1), ...)` — the same s = 0..m-1 order
    *      as [[adcTopK]]'s literal projection, so the quantized cut is
    *      bit-identical to the single-query path): map-side only, no
    *      explode, no join per subspace;
    *   3. each scanned codes row meets ONLY the queries that probed its
    *      list (broadcast probe join — q115's discipline), the per-query
    *      top refine·k survive the bounded [[graft.operators
    *      .TopKAggregator]] (shuffle = O(queries·refine·k) partials,
    *      never the scanned lists);
    *   4. exact rescore: ONE scan of the probed lists' wide column under
    *      a pushed `In(idCol, all candidate ids)` (≤ |batch|·refine·k
    *      ids), each candidate row scored only for the queries that
    *      shortlisted it (broadcast pair join), per-query top-k again via
    *      the bounded aggregator.
    *
    * Output matches [[topKBatch]]: `(query_id, rn, idCol, sim_q)` — per
    * query the same rows [[adcTopK]] returns (IvfPqStoreSpec pins the
    * equivalence; q119 hash-gates the chain against a DuckDB replay of
    * probes + codes + per-query ADC cut + exact rescore). */
  def adcTopKBatch(spark: SparkSession, dir: String, queries: DataFrame,
                   k: Int, nprobe: Int = 2, refine: Int = 4,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   queryIdCol: String = "query_id",
                   queryVecCol: String = "query_vec"): DataFrame = {
    import spark.implicits._
    val root = VersionedDir.resolveDir(dir) // one snapshot: probes, codes, rescore
    val ctx = batchCtx(spark, root, queries, nprobe, queryIdCol, queryVecCol)
    val candPairs = adcBatchCandidateFrame(spark, root, ctx, refine * k, idCol)
      .as[(Long, Long)].collect().toSeq
    val candIds = candPairs.map(_._2).distinct.sorted
    val pairDf = broadcast(candPairs.toDF(queryIdCol, idCol))
    readLists(spark, root)
      .filter(col("centroid_id").isin(ctx.probedLists: _*) &&
        col(idCol).isin(candIds: _*))
      .select(col(idCol).cast("long").as(idCol), col(vecCol))
      .join(pairDf, Seq(idCol))
      .join(broadcast(ctx.qmeta.select(col(queryIdCol), col("qvec"))), Seq(queryIdCol))
      .select(col(queryIdCol), col(idCol), Similarity.quantize(
        GraftFunctions.vecDot(spark, col(vecCol), col("qvec"))).as("sim_q"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => graft.operators.ScoredId(t._3.toDouble, t._2))
      .agg(new graft.operators.TopKAggregator(k).toColumn.name("topk"))
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case (s, i) => (qid, i + 1, s.id, s.score.toLong) }
      }
      .toDF(queryIdCol, "rn", idCol, "sim_q")
  }

  /** Query-batch serving context: the checkpointed per-query probe table,
    * its probed-list union, the broadcastable query metadata (flattened
    * ADC table + raw vector per query), and the fixed-order ADC fold. */
  private final case class BatchCtx(probes: DataFrame, probedLists: Seq[Long],
                                    qmeta: DataFrame,
                                    approx: org.apache.spark.sql.Column)

  private def batchCtx(spark: SparkSession, dir: String, queries: DataFrame,
                       nprobe: Int, queryIdCol: String,
                       queryVecCol: String): BatchCtx = {
    import spark.implicits._
    val cb = pqCodebook(spark, dir)
    // the query batch is the service's request payload — bounded, driver-
    // side by contract (exactly [[adcTopK]]'s single-vector case, ×|batch|)
    val qvecs = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol))
      .as[(Long, Seq[Float])].collect().toSeq
    // probe selection as driver arithmetic over the memoized codebook —
    // [[topKBatch]]'s discipline: the old crossJoin+window job and the
    // probed-list distinct+collect job were two serve-latency Spark jobs
    // computing |batch|·nlist quantized dots; [[probeOf]] is bit-identical
    val cbRows = codebookRows(spark, dir)
    val probeRows = qvecs.flatMap { case (qid, v) =>
      probeOf(cbRows, v.toArray, nprobe).map(cid => (qid, cid)) }
    val probes = probeRows.toDF(queryIdCol, "centroid_id")
    val probedLists = probeRows.map(_._2).distinct.sorted
    val qmeta = qvecs.map { case (qid, v) =>
      val t = graft.operators.ProductQuantizer.adcTable(cb, v.toArray)
      (qid, t.flatten.toSeq, v)
    }.toDF(queryIdCol, "tflat", "qvec")
    // identical s = 0..m-1 summation order to [[adcTopK]]'s literal
    // projection, so the quantized cut is bit-identical per query
    val approx = aggregate(
      sequence(lit(0), lit(cb.m - 1)), lit(0.0),
      (acc, s) => acc + element_at(col("tflat"),
        s * cb.ksub + element_at(col("codes"), s + 1) + 1))
    BatchCtx(probes, probedLists, qmeta, approx)
  }

  private def adcBatchCandidateFrame(spark: SparkSession, dir: String,
                                     ctx: BatchCtx, limit: Int,
                                     idCol: String): DataFrame = {
    import spark.implicits._
    val queryIdCol = ctx.probes.columns.head
    readLists(spark, dir)
      .filter(col("centroid_id").isin(ctx.probedLists: _*))
      .select(col(idCol).cast("long").as("id"), col("codes"), col("centroid_id"))
      .join(broadcast(ctx.probes), Seq("centroid_id"))
      .join(broadcast(ctx.qmeta.select(col(queryIdCol), col("tflat"))), Seq(queryIdCol))
      .select(col(queryIdCol).cast("long"), col("id"),
        Similarity.quantize(ctx.approx).as("approx_q"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => graft.operators.ScoredId(t._3.toDouble, t._2))
      .agg(new graft.operators.TopKAggregator(limit).toColumn.name("cands"))
      .flatMap { case (qid, top) => top.map(s => (qid, s.id)) }
      .toDF(queryIdCol, "id")
  }

  /** [[adcTopKBatch]]'s codes-only stage, pre-collect (the plan-pin twin
    * of [[adcCandidates]]): ONE scan of the probed union, broadcast probe
    * join, fixed-order ADC fold, bounded per-query top-`limit` —
    * `(queryIdCol, id)` pairs. Spec-facing. */
  private[sources] def adcBatchCandidates(spark: SparkSession, dir: String,
                                          queries: DataFrame, limit: Int,
                                          nprobe: Int = 2,
                                          idCol: String = "vec_id",
                                          queryIdCol: String = "query_id",
                                          queryVecCol: String = "query_vec"): DataFrame = {
    val root = VersionedDir.resolveDir(dir)
    adcBatchCandidateFrame(spark, root,
      batchCtx(spark, root, queries, nprobe, queryIdCol, queryVecCol), limit, idCol)
  }

  /** [[adcTopK]]'s codes-only candidate pass, pre-collect — package-
    * private so IvfPqStoreSpec can pin its PLAN (the ADC pass executes
    * eagerly inside [[adcTopK]], so the served frame's plan shows only
    * the rescore): `(id, approx_q)` top `limit` over the probed lists,
    * ReadSchema = (idCol, codes) — the raw-vector column never read. */
  private[sources] def adcCandidates(spark: SparkSession, dir: String,
                                     queryVec: Seq[Float], probes: Seq[Long],
                                     limit: Int, idCol: String = "vec_id"): DataFrame = {
    val cb = pqCodebook(spark, dir)
    val table = graft.operators.ProductQuantizer.adcTable(cb, queryVec.toArray)
    val approx = graft.operators.ProductQuantizer.adcApproxCol(cb, table)
    readLists(spark, VersionedDir.resolveDir(dir))
      .filter(col("centroid_id").isin(probes: _*))
      .select(col(idCol).cast("long").as("id"), Similarity.quantize(approx).as("approx_q"))
      .orderBy(col("approx_q").desc, col("id"))
      .limit(limit)
  }

  /** Per-ingest-batch PQ health of the store — the REBUILD SIGNAL of the
    * frozen-codebook maintenance contract ([[sink]]'s documented trade:
    * appends encode against build-time codebooks, so a shifting data
    * distribution degrades silently unless measured). One map-side pass
    * over the store computes each row's quantized reconstruction error
    * AGAINST ITS STORED CODES ([[graft.operators.ProductQuantizer
    * .reconstructionErrCol]] — stale/corrupt codes surface exactly like
    * drifted data), one partial+final aggregate rolls it up per
    * `ingest_batch`, and a batch whose mean error exceeds
    * `factor ×` the bulk build's (batch −1's) mean is flagged `drifted`
    * — integer arithmetic throughout (floor-division mean), so q120's
    * DuckDB oracle replays every flag.
    *
    * Output: `(ingest_batch, n_vecs, mean_err_ppm, drifted)` ordered by
    * batch. Nothing corpus-sized shuffles: the exchange carries one row
    * per batch, the baseline joins back as a broadcast single row. */
  def qualityReport(spark: SparkSession, dir: String,
                    factor: Double = 2.0,
                    vecCol: String = "embedding"): DataFrame = {
    val root = VersionedDir.resolveDir(dir) // one snapshot: codebook AND lists
    val cb = pqCodebook(spark, root)
    val err = graft.operators.ProductQuantizer
      .reconstructionErrCol(spark, cb, vecCol)
    val perBatch = readLists(spark, root)
      .select(col(BatchCol).cast("long").as(BatchCol), err.as("err"))
      .groupBy(col(BatchCol))
      .agg(count(lit(1)).as("n_vecs"), sum(col("err")).as("sum_err"))
      .select(col(BatchCol), col("n_vecs"),
        expr("sum_err div n_vecs").as("mean_err_ppm"))
    val base = perBatch.filter(col(BatchCol) === -1L)
      .select(col("mean_err_ppm").as("base_err"))
    perBatch.crossJoin(broadcast(base))
      .select(col(BatchCol), col("n_vecs"), col("mean_err_ppm"),
        (col("mean_err_ppm").cast("double") >
          col("base_err").cast("double") * lit(factor)).as("drifted"))
      .orderBy(col(BatchCol))
  }

  /** Delete vectors by id from the persisted store — the takedown/GDPR
    * maintenance face every other persisted layout here has (compaction,
    * reconcile, heal): a serving store that can only append cannot serve
    * a corpus with erasure obligations.
    *
    * Rewrite, not tombstones, and ONLY the affected leaves: the scan that
    * finds the deleted ids' `(centroid_id, ingest_batch)` leaves pushes
    * `In(idCol, ids)` to parquet (row-group stats skip everything else),
    * then the next snapshot carries every untouched leaf by link and
    * rewrites the survivors of all affected leaves — at most |ids| of
    * them — in ONE partitioned write, whatever their number; a leaf left
    * empty is simply not written. Tombstones were rejected deliberately:
    * every serving path ([[topK]], [[adcTopK]], both batch forms,
    * [[qualityReport]]) is a pure scan, and a tombstone design would tax
    * each of them with an anti-join forever to spare the rare delete a
    * bounded rewrite.
    *
    * One commit: a reader sees the store before or after the whole delete.
    * Idempotent: re-deleting the same ids finds no affected leaves and
    * commits nothing. `ids` is a driver-side request payload by contract
    * (the [[topKBatch]] discipline — takedowns arrive as bounded lists,
    * not relations). Returns the number of vector rows removed. */
  def delete(spark: SparkSession, dir: String, ids: Seq[Long],
             idCol: String = "vec_id"): Long = {
    require(ids.nonEmpty, "ivf delete: empty id list")
    def leafKey(c: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      concat(lit("centroid_id="), c.cast("string"), lit(s"/$BatchCol="), b.cast("string"))
    var deleted = 0L
    commitNext(dir) { s =>
      val affected = readLists(spark, s.src)
        .filter(col(idCol).isin(ids: _*))
        .groupBy(leafKey(col("centroid_id"), col(BatchCol)).as("leaf"))
        .agg(count(lit(1)).as("n"))
        // bounded driver pull: ≤ |ids| leaves
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      deleted = affected.values.sum
      affected.nonEmpty && {
        s.carry(affected.contains)
        // a filter on the partition columns only: the scan lists just
        // the affected leaves
        writeLeaves(readLists(spark, s.src)
          .filter(leafKey(col("centroid_id"), col(BatchCol)).isin(affected.keys.toSeq: _*))
          .filter(!col(idCol).isin(ids: _*)), s.dst)
        true
      }
    }
    deleted
  }

  /** The store's column set from a SINGLE data file's footer plus the
    * layout's partition columns — [[appendBatch]]'s drift-gate read, O(1)
    * in store size (every list file carries the full data schema: one
    * clustered write per build/append, never a projection). */
  private def storeColumns(spark: SparkSession, dir: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def firstFile(p: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] =
      fs.listStatus(p).sortBy(_.getPath.getName)
        .filterNot { st =>
          val n = st.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .collectFirst(Function.unlift { st =>
          if (st.isFile) Some(st.getPath) else firstFile(st.getPath)
        })
    val f = firstFile(root).getOrElse(throw new IllegalStateException(
      s"ivf store at $dir has no committed list files — build() first"))
    spark.read.parquet(f.toString).schema.fieldNames.toSet +
      "centroid_id" + BatchCol
  }

  /** Drift-driven maintenance, the closed loop: [[qualityReport]] is the
    * REBUILD SIGNAL of the frozen-codebook contract and [[rebuild]] is
    * the zero-downtime remedy — this composes them. If any ingest batch's
    * mean quantized reconstruction error exceeds `factor ×` the bulk
    * build's, the store re-centers from ITS OWN rows (the lists carry the
    * raw vectors and every metadata column, so no external corpus handle
    * is needed): coarse centroids re-train via [[Similarity.ivfTrain]]
    * and the PQ codebooks re-train at the persisted (m, ksub) over the
    * CURRENT corpus — drifted appends included, which is the point — then
    * everything lands as batch −1 of `v<N+1>` behind the manifest flip.
    * Readers never see a torn store; a clean report returns None and
    * touches nothing. `trainIters`/`trainFraction` pass through to both
    * trainers (the sampled-training practice for corpus-scale rebuilds).
    *
    * Serving-neutral by design: the rebuilt store answers from retrained
    * codebooks, so recall recovers on the drifted region; the follow-up
    * [[qualityReport]] has a single batch (−1) and cannot flag — the
    * spec pins that the loop terminates. */
  def rebuildIfDrifted(spark: SparkSession, dir: String, factor: Double = 2.0,
                       trainIters: Int = 2, trainFraction: Double = 1.0,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Option[Long] = {
    val report = qualityReport(spark, dir, factor, vecCol)
    if (report.filter(col("drifted")).isEmpty) None
    else {
      val root = VersionedDir.resolveDir(dir)
      val nlist = codebook(spark, root).count().toInt
      val pqOld = pqCodebook(spark, root)
      val corpus = readLists(spark, root)
        .drop("codes", "centroid_id", BatchCol)
        // pin the training input: the retrain passes and the rebuild's
        // assignment pass must see one corpus snapshot, not re-list the
        // store dir per job (an append racing the rebuild would
        // otherwise train and file DIFFERENT row sets)
        .localCheckpoint(true)
      val dims = pqOld.m * pqOld.subDim
      // the deterministic-seed trainers want ids 0..k-1 present, but a
      // store that has seen deletions (or never had dense ids) can't
      // promise that — so the TRAINING VIEW remaps the k smallest ids to
      // 0..k-1 (a bounded k-row driver pull) and shifts the rest by k;
      // the store itself keeps its real ids (only `rebuild` below sees
      // the original corpus)
      val k = math.max(nlist, pqOld.ksub)
      val seedIds = corpus.select(col(idCol).cast("long"))
        .orderBy(col(idCol)).limit(k).as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect()
      require(seedIds.length == k && seedIds.headOption.forall(_ >= 0L),
        s"ivf rebuild: need >= $k non-negative ids to seed retraining, " +
          s"got ${seedIds.length}")
      val rankOf = typedLit(seedIds.zipWithIndex
        .map { case (id, r) => id -> r.toLong }.toMap)
      val trainView = corpus.select(
        coalesce(element_at(rankOf, col(idCol).cast("long")),
          col(idCol).cast("long") + lit(k.toLong)).as(idCol),
        col(vecCol))
      val cents = Similarity.ivfTrain(trainView, nlist = nlist,
        iters = trainIters, dims = dims, idCol = idCol, vecCol = vecCol,
        trainFraction = trainFraction)
      val pqNew = graft.operators.ProductQuantizer.train(trainView, m = pqOld.m,
        ksub = pqOld.ksub, iters = trainIters, dims = dims, idCol = idCol,
        vecCol = vecCol, trainFraction = trainFraction)
      Some(rebuild(corpus, dir, nlist, Some(cents), idCol, vecCol, Some(pqNew)))
    }
  }

  /** The sink's per-batch partition level under each list — the
    * replay-idempotence key ([[VariantEventStore.BatchCol]]'s discipline);
    * the bulk [[build]] is batch -1, below any streaming batch id. Serving never touches it: [[topK]]
    * prunes on `centroid_id` and scans every batch of the probed lists. */
  private[sources] val BatchCol = "ingest_batch"

  /** The leaf-merge fold registry: batch ids folded by [[mergeLeaves]]
    * (one per line at the snapshot root). A replayed folded batch must be
    * refused — its rows already live in a merged leaf, and the replay's
    * own leaves would file a SECOND copy under the original batch id
    * beside them. */
  private val FoldedMarker = "_folded"

  private def foldedBatches(root: String): Set[Long] = {
    val m = Paths.get(root, FoldedMarker)
    if (!Files.exists(m)) Set.empty
    else new String(Files.readAllBytes(m), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).map(_.toLong).toSet
  }

  /** A leaf of the layout (`centroid_id=C/ingest_batch=N`) as a path
    * relative to the snapshot root; the group is its batch id. */
  private val LeafRel = s"""centroid_id=[^/]+/$BatchCol=(-?\\d+)""".r

  /** Every leaf of the layout at `root`, by its path relative to it. */
  private def leafRels(root: String): Seq[String] =
    RegistryIO.childNames(root, "centroid_id=").flatMap { c =>
      RegistryIO.childNames(s"$root/$c", s"$BatchCol=").map(l => s"$c/$l")
    }

  /** LEVELED LEAF MERGE — the postings store's batch-count discipline
    * ([[graft.sources.PostingsStore.compactLevel]]) applied to this
    * store's smaller dose of the same disease: every append files one
    * `(centroid_id, ingest_batch=N)` leaf per touched list, so a
    * long-running sink grows the per-list FILE COUNT linearly — every
    * probed scan pays the footer tier — and the only remedy before this
    * was [[rebuild]]'s full corpus re-cluster. `mergeLeaves` instead
    * folds the SMALLEST batches — enough to bring the store's batch
    * count back to `maxBatches` — into ONE new batch per touched list
    * (a fresh negative id below build's -1, so no stream id ever
    * collides), leaving every other leaf byte-identical. No re-cluster,
    * no codebook change, no row is re-assigned, so either layout serves
    * identical results. The next snapshot carries the kept leaves by
    * link, writes the folded batch in one job, and records the folded
    * ids in a fresh `_folded` registry — all one commit, so a replay of
    * a folded batch is refused loudly by [[appendBatch]] exactly when
    * the merged leaf is live. [[qualityReport]] sees a merged batch as
    * one row (its per-original-batch drift attribution folds with it —
    * the documented trade; run the report before merging if per-append
    * attribution matters). Returns true iff a fold ran; a no-op call
    * commits nothing. */
  def mergeLeaves(spark: SparkSession, dir: String,
                  maxBatches: Int = 8): Boolean = {
    require(maxBatches >= 2, "ivf mergeLeaves: maxBatches must be >= 2")
    commitNext(dir) { s =>
      // batch census from the layout (metadata-scale directory walk)
      val sizeByBatch = leafRels(s.src).groupBy { case LeafRel(b) => b.toLong }
        .map { case (b, ls) => b -> ls.map(l => PostingsStore.treeBytes(Paths.get(s.src, l))).sum }
      sizeByBatch.size > maxBatches && {
        val fold = sizeByBatch.toSeq.sortBy { case (b, sz) => (sz, b) }
          .take(sizeByBatch.size - maxBatches + 1).map(_._1)
        val newId = (sizeByBatch.keySet + -1L).min - 1L
        s.carry {
          case LeafRel(b) => fold.contains(b.toLong)
          case rel => rel == FoldedMarker
        }
        // ONE job folds every touched list's victim rows, clustered by list
        writeLeaves(readLists(spark, s.src)
          .filter(col(BatchCol).isin(fold: _*))
          .withColumn(BatchCol, lit(newId))
          .repartition(col("centroid_id")), s.dst)
        Files.write(s.dst.resolve(FoldedMarker),
          (foldedBatches(s.src) ++ fold).toSeq.sorted.mkString("\n")
            .getBytes(StandardCharsets.UTF_8), StandardOpenOption.CREATE_NEW)
        true
      }
    }.isDefined
  }

  /** One append step, keyed by `batchId` — [[sink]]'s per-micro-batch body,
    * public because batch pipelines (a scheduled backfill, a q120-style
    * fixture) append with exactly the same replay contract: same batchId →
    * same deterministic assignment → rewrite, never a second copy. The
    * next snapshot carries every leaf but this batch's own by link and
    * writes the batch's leaves fresh. */
  def appendBatch(batch: DataFrame, dir: String,
                                   batchId: Long, idCol: String = "vec_id",
                                   vecCol: String = "embedding"): Unit = {
    require(batch.columns.contains(idCol) && batch.columns.contains(vecCol),
      s"ivf sink: batch lacks '$idCol'/'$vecCol' (schema drift upstream?) " +
        s"— columns: ${batch.columns.mkString(", ")}")
    // codebook, drift gate and the carried leaves all come from the one
    // base snapshot; a commit racing the append makes it lose with
    // ConcurrentWriterException instead of filing into a superseded one
    commitNext(dir) { s =>
      val root = s.src
      require(!foldedBatches(root).contains(batchId),
        s"ivf store at $dir: batch $batchId was already folded by " +
          "mergeLeaves() - replaying it would file a second copy of its " +
          "vectors beside the merged leaf; resolve the stream checkpoint " +
          "instead")
      // the codebook is FROZEN at build time (standard IVF maintenance:
      // appends assign against the existing centroids; re-centering is an
      // offline rebuild) — a missing store fails loudly here
      val cents = codebook(batch.sparkSession, root)
      // checkpoint the assignment so the rows VALIDATED below are the same
      // materialization as the rows WRITTEN — a foreachBatch source that
      // re-read differently between the two actions could otherwise pass
      // validation on one snapshot and file a different one
      val assigned = Similarity.ivfAssignWith(batch, cents, idCol, vecCol)
        .localCheckpoint()
      // a vector whose length differs from the codebook's dims (or a null
      // vector) dots to NULL against EVERY centroid — the argmax carries
      // that through as a null cdot_q. Fail loudly instead of filing
      // garbage under an arbitrary list.
      val bad = assigned.filter(col("cdot_q").isNull).count()
      require(bad == 0,
        s"ivf sink: $bad vector(s) in batch $batchId have null/mismatched " +
          "dims vs the store's codebook; appending would corrupt the lists")
      // a PQ-built store's appends must carry codes too (the ADC serving
      // scan reads every batch of a probed list — a codeless append would
      // surface as null approx scores); encoding uses the store's FROZEN
      // PQ codebook, the same maintenance contract as the coarse centroids
      val withCodes =
        if (hasPq(batch.sparkSession, root)) {
          val cb = pqCodebook(batch.sparkSession, root)
          val coded = assigned.withColumn("codes",
            graft.operators.ProductQuantizer.codesCol(batch.sparkSession, cb, vecCol))
          // dims vs the COARSE codebook already gated above; a PQ codebook
          // whose m·subDim disagrees with the store's vectors would null
          // every code — fail loudly rather than file unscannable rows
          val badCodes = coded
            .filter(exists(col("codes"), _.isNull) || col("codes").isNull).count()
          require(badCodes == 0,
            s"ivf sink: $badCodes vector(s) in batch $batchId encode to null " +
              "PQ codes (pq codebook dims disagree with the store's vectors)")
          coded.drop("cdot_q")
        } else assigned.drop("cdot_q")
      // layout drift gate (the VariantEventStore discipline): appended rows
      // must carry exactly the store's columns — a batch missing a metadata
      // column the build carried (or inventing a new one) would file
      // mixed-schema leaves no reader can trust, silently. Derived from ONE
      // data file's footer — a full spark.read.parquet(dir) here would pay
      // a store-wide file listing + schema merge on every micro-batch tick,
      // a cost that grows with the store as batches accumulate.
      val storeCols = storeColumns(batch.sparkSession, root)
      val outCols = withCodes.columns.toSet + BatchCol
      require(outCols == storeCols,
        s"ivf sink: batch $batchId columns ${outCols.mkString(", ")} drift " +
          s"from the store layout ${storeCols.mkString(", ")}")
      // an at-least-once replay re-derives the SAME deterministic
      // assignment and REPLACES its own (centroid_id, ingest_batch=N)
      // leaves instead of filing a second copy
      s.carry { case LeafRel(b) => b.toLong == batchId; case _ => false }
      writeLeaves(withCodes.withColumn(BatchCol, lit(batchId)), s.dst)
      true
    }
  }

  /** Streaming face of [[build]]: assign each micro-batch of new vectors
    * against the store's frozen codebook and append them to their list
    * partitions, so the persisted index stays serveable while the corpus
    * grows — no rebuild, no corpus re-scan, O(batch · nlist) scoring work
    * per tick.
    *
    *   - REPLAY-SAFE: each batch lands in its own
    *     `centroid_id=&lt;list&gt;/ingest_batch=N` leaves, committed as one
    *     snapshot — a foreachBatch replay after a crash-before-checkpoint
    *     replaces its own leaves (assignment is deterministic), never
    *     double-counts;
    *   - DRIFT-SAFE, fail-loud: a batch missing the id/vector columns, or
    *     carrying vectors whose dims don't match the codebook, aborts the
    *     query instead of filing garbage under an arbitrary list;
    *   - the codebook is frozen (appends never move existing vectors);
    *     recall drift under a shifting distribution is the documented
    *     trade — SCALE.md's recall curve is the instrument, rebuild the
    *     remedy;
    *   - COST grows with the store: every micro-batch hard-links every
    *     file of the base snapshot into its stage, so a tick's link step
    *     is linear in the store's leaf count and an unmerged stream's
    *     total link work quadratic in its batch count. Run
    *     [[mergeLeaves]] every few batches on a long stream: it holds the
    *     batch count, and with it the files linked per tick, at its cap.
    *
    * Caller starts the query and picks trigger/checkpoint options. */
  def sink(vecStream: DataFrame, dir: String, idCol: String = "vec_id",
           vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecStream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, dir, batchId, idCol, vecCol)
    }

  /** Battery-entry helper ([[ShardWriter.layoutFor]]'s pattern): build the
    * index for (`sfDir`, `nlist`) once per session and return its path —
    * q112 runs three bench passes over one build. */
  def layoutFor(spark: SparkSession, sfDir: String, emb: DataFrame,
                nlist: Int): String =
    batteryLayout(spark, s"$sfDir|nlist$nlist", s"nlist${nlist}_$sfDir")(
      build(emb, _, nlist))

  /** [[layoutFor]]'s PQ twin — one PQ-coded build per (`sfDir`, `nlist`)
    * per session, shared by q118's bench passes. The PQ codebooks are the
    * battery's deterministic seed (first-ksub-by-id, iters = 0 — q89's),
    * so the DuckDB oracle replays every code. */
  def layoutForPq(spark: SparkSession, sfDir: String, emb: DataFrame,
                  nlist: Int): String =
    batteryLayout(spark, s"$sfDir|nlist$nlist|pq", s"pq_nlist${nlist}_$sfDir")(
      build(emb, _, nlist, pq = Some(graft.operators.ProductQuantizer
        .train(emb, m = 8, ksub = 16, iters = 0))))

  private val layoutMemo =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String)]()

  /** The battery's store for `key` under `/tmp/graft-ivf-store2/` (the
    * digest of `key`, then `label`), seeded by `seed` once per session:
    * the seed commits its build as the store's next snapshot, so a warm
    * /tmp store is rebuilt, never appended to twice. The memo records a
    * seed only AFTER it succeeds; single-threaded callers only
    * (Verify/Bench run the battery sequentially). */
  private[graft] def batteryLayout(spark: SparkSession, key: String, label: String)
                                  (seed: String => Unit): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    val dir = s"/tmp/graft-ivf-store2/${digest}_" +
      label.replaceAll("[^A-Za-z0-9._-]", "_")
    if (!layoutMemo.contains((spark, key))) {
      seed(dir)
      layoutMemo.add((spark, key))
    }
    dir
  }
}
