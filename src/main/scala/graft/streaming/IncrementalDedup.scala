package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Dedup at ingest: new documents are checked against the EXISTING corpus's
  * LSH buckets instead of re-clustering the corpus per batch — the
  * incremental form every growing training corpus needs (the batch battery's
  * q30-q34/q65 are its full-corpus twins).
  *
  * The corpus state is a durable bucket registry `(band, bucket, minhash,
  * rep_doc_id)` — plain parquet here, a Delta/Iceberg table in production —
  * hive-partitioned by `(band, bucket)` where `bucket` is the first byte of
  * the minhash (256 buckets per band). Per micro-batch (foreachBatch, like
  * every other side-effecting sink in this engine):
  *
  *   1. the batch's MinHash band signatures are computed columnar
  *      (md5-derived, identical to [[Dedup.minhashSignatures]]);
  *   2. the registry scan is PRUNED to the `(band, bucket)` partitions the
  *      batch's signatures actually touch — per-batch I/O is O(batch), not
  *      O(registry) — then one equi-join flags documents whose ANY band
  *      bucket is already occupied;
  *   3. the batch's signatures self-join the same way, so two near-dups
  *      arriving in the SAME micro-batch are caught too (reported against
  *      the smallest colliding batch doc_id);
  *   4. signatures of the batch's genuinely-new representatives append to
  *      the registry (append-only; at-least-once replay re-appends identical
  *      rows, and the doc-level min aggregate absorbs them — idempotent
  *      effect).
  *
  * `dup_of` is the smallest colliding partner — a registry representative
  * or an earlier same-batch document; chains (B~A while A~R) are left as-is
  * per batch and canonicalized out-of-band by [[reconcile]], which routes
  * the accumulated links through the full clustering operator
  * ([[Dedup.clusterPairs]], q65). Buckets of dup-flagged documents do not
  * register (their collision partner's buckets already cover the
  * neighborhood), matching the batch operator's keep-one-representative
  * semantics.
  */
object IncrementalDedup {

  private val registrySchema: StructType = StructType.fromDDL(
    "band INT, bucket INT, minhash STRING, rep_doc_id BIGINT")

  /** Partition bucket of a minhash: its first hex byte, 0..255. A function
    * of the join key, so pruning on it can never drop a matching row. */
  private def bucketOf(minhash: Column): Column =
    conv(substring(minhash, 1, 2), 16, 10).cast("int")

  /** One micro-batch step. Returns the per-document verdicts
    * `(doc_id, is_dup, dup_of)` — `dup_of` is the smallest colliding partner
    * (registry representative or earlier same-batch doc), null for fresh
    * documents.
    *
    * Shuffle discipline: the BATCH's signatures broadcast (a micro-batch is
    * small by construction); the registry only ever streams map-side
    * through the broadcast hash join — the corpus state is never shuffled,
    * grouped, or rewritten per batch. And its SCAN is partition-pruned to
    * the batch's touched `(band, bucket)` directories (the touched set is a
    * tiny O(batch·bands) driver-side pull, like the bloom-bytes scalar in
    * SharedStages); batches touching more than `pruneMaxBuckets` buckets
    * fall back to the full scan rather than build a degenerate predicate —
    * at that size the batch is no longer "small" and a full probe is the
    * honest cost. */
  def processBatch(batch: DataFrame, registryDir: String,
                   bands: Int = 4, idCol: String = "doc_id",
                   pruneMaxBuckets: Int = 1024): DataFrame = {
    val spark = batch.sparkSession
    // the takedown tombstone gate ([[eraseAndReconcile]]): an erased doc
    // re-delivered by an at-least-once replay must not re-register its
    // signatures or re-enter the verdict stream — the takedown-sized
    // tombstone set broadcasts, the anti-join is O(batch)
    val live = batch.join(
      broadcast(erasedIds(spark, registryDir)
        .withColumnRenamed("doc_id", idCol + "__erased")),
      batch(idCol).cast("long") === col(idCol + "__erased"), "left_anti")
    // localCheckpoint(eager): the signature pipeline feeds FIVE consumers
    // (touched-set pull, registry probe, both sides of the intra-batch
    // self-join, registration) — materialize the small batch once instead
    // of recomputing shingle+md5 per consumer
    val sigs = Dedup.minhashSignatures(Dedup.shingles(live, idCol = idCol), bands, idCol)
      .withColumn("bucket", bucketOf(col("minhash")))
      .localCheckpoint(true)
    val touched = sigs.select(col("band"), col("bucket")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val registryAll = readRegistry(spark, registryDir)
    val registry =
      if (touched.isEmpty) registryAll.limit(0)
      else if (touched.length > pruneMaxBuckets) registryAll
      else registryAll.filter(touched.map { case (b, k) =>
        col("band") === b && col("bucket") === k }.reduce(_ || _))
    // rep_doc_id =!= idCol: on an at-least-once REPLAY a document's own
    // first-play registry rows come back as probe hits; without the
    // exclusion its verdict would flip fresh→dup-of-itself and a consumer
    // filtering on is_dup would drop the corpus's sole representative.
    // Excluded, the replay re-appends identical registry rows (absorbed by
    // the min aggregate) and verdicts are fully idempotent.
    val regHits = registry.join(broadcast(sigs), Seq("band", "minhash"))
      .filter(col("rep_doc_id") =!= col(idCol))
      .groupBy(col(idCol)).agg(min(col("rep_doc_id")).as("dup_of_reg"))
    // intra-batch collisions: same-bucket pairs within the batch, charged to
    // the larger doc_id (the smaller one stays the candidate representative)
    val intraHits = sigs.as("a")
      .join(broadcast(sigs.as("b")),
        col("a.band") === col("b.band") && col("a.minhash") === col("b.minhash") &&
          col(s"a.$idCol") > col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as(idCol))
      .agg(min(col(s"b.$idCol")).as("dup_of_intra"))
    val hits = regHits.join(intraHits, Seq(idCol), "full_outer")
      .select(col(idCol),
        least(col("dup_of_reg"), col("dup_of_intra")).as("dup_of"))
    // verdicts capture the PRE-batch registry: their scan's file listing is
    // fixed here, before the append below, so a later materialization (the
    // caller's sink write) still judges against the state this batch saw.
    // Tombstoned docs get NO verdict row (they are not re-admitted and not
    // re-judged — the takedown stands until _erased/ is cleared).
    val verdicts = live.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
    // fresh documents' buckets become part of the corpus state, laid out in
    // the same (band, bucket) partitions the probe prunes on
    sigs.join(hits, Seq(idCol), "left_anti")
      .select(col("band"), col("bucket"), col("minhash"), col(idCol).as("rep_doc_id"))
      .write.mode(SaveMode.Append).partitionBy("band", "bucket").parquet(registryDir)
    verdicts
  }

  /** Bulk-seed the registry from an EXISTING corpus — the bootstrap step
    * before enabling the streaming gate on a corpus that already has
    * history: one signature pass, written straight into the probe's
    * (band, bucket) partition layout. Every existing document registers as
    * its own representative (run the batch dedup battery first if the
    * corpus should be deduplicated before gating). */
  def seedRegistry(docs: DataFrame, registryDir: String,
                   bands: Int = 4, idCol: String = "doc_id"): Unit = {
    val live = docs.join(
      broadcast(erasedIds(docs.sparkSession, registryDir)
        .withColumnRenamed("doc_id", idCol + "__erased")),
      docs(idCol).cast("long") === col(idCol + "__erased"), "left_anti")
    Dedup.minhashSignatures(Dedup.shingles(live, idCol = idCol), bands, idCol)
      .select(col("band"), bucketOf(col("minhash")).as("bucket"),
        col("minhash"), col(idCol).as("rep_doc_id"))
      .write.mode(SaveMode.Append).partitionBy("band", "bucket").parquet(registryDir)
  }

  /** The registry's takedown tombstone dir ([[eraseAndReconcile]]): a
    * SIBLING of the registry, not a child — [[reconcileImpl]] and the
    * gate's compaction rewrite the registry through whole-dir
    * `replaceDir` swaps, and a takedown must survive every one of them
    * without each rewriter having to know to carry it. Duplicates from
    * re-run erasures are absorbed by the distinct; the takedown lifts by
    * deleting the dir. */
  private def erasedDir(registryDir: String): String =
    registryDir.stripSuffix("/") + ".erased"

  private def erasedIds(spark: SparkSession, registryDir: String): DataFrame =
    RegistryIO.readOrEmpty(spark, erasedDir(registryDir),
      StructType.fromDDL("doc_id BIGINT"), None).distinct()

  /** The raw append-only registry, schema supplied explicitly (no footer
    * inference — only partitions a query actually filters to are ever
    * opened; `band`/`bucket` come from the directory names).
    *
    * Layout guard: a registry written by the pre-(band, bucket) format
    * (data files at the directory root, unpartitioned) would read here with
    * `bucket = null` on every row, and the probe's partition-prune predicate
    * would then silently drop ALL legacy rows before the join — an existing
    * corpus registry would stop flagging anything. Fail fast instead. */
  def readRegistry(spark: SparkSession, registryDir: String): DataFrame = {
    val p = java.nio.file.Paths.get(registryDir)
    val rootFiles: Seq[String] =
      if (!java.nio.file.Files.exists(p)) Nil
      else {
        val s = java.nio.file.Files.list(p)
        try {
          val it = s.iterator(); val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next().getFileName.toString
          b.result()
        } finally s.close()
      }
    require(!rootFiles.exists(_.endsWith(".parquet")),
      s"legacy unpartitioned registry layout at $registryDir: data files sit " +
        "at the root instead of band=*/bucket=* partition directories, so the " +
        "partition-pruned probe would silently skip every legacy row. Rebuild " +
        "the registry from its corpus into the partitioned layout.")
    if (!rootFiles.exists(_.startsWith("band=")))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], registrySchema)
    else spark.read.schema(registrySchema).parquet(registryDir)
  }

  /** Streaming face: wire a document stream through [[processBatch]],
    * appending verdicts to `verdictDir`. Caller starts the query.
    *
    * `compactEvery` schedules registry compaction INSIDE the gate — the
    * append-only registry otherwise accrues one file per touched partition
    * per micro-batch (~86k/partition/day at a 1 s cadence), and probe time
    * grows with FILE count even while it stays flat in registry ROWS
    * (SCALE.md measures both). Every N batches the registry rewrites to one
    * file per (band, bucket) partition via the crash-safe rename-aside swap;
    * single-writer, same as the probe/append cycle it interleaves with.
    *
    * `reconcileEvery` schedules [[reconcile]] the same way — dup chains and
    * sibling representatives accumulated across micro-batches canonicalize
    * in place every N batches, so a long-running gate's verdict pointers
    * stay canonical without out-of-band orchestration. Runs after the
    * batch's own append (and after a same-tick compaction), in the same
    * single-writer slot. */
  def gate(docStream: DataFrame, registryDir: String, verdictDir: String,
           bands: Int = 4, idCol: String = "doc_id",
           compactEvery: Int = 0,
           reconcileEvery: Int = 0): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        processBatch(batch, registryDir, bands, idCol)
          .write.mode(SaveMode.Append).parquet(verdictDir)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          graft.queue.Maintenance.compactParquet(batch.sparkSession,
            registryDir, partitionCols = Seq("band", "bucket"))
          ()
        }
        if (reconcileEvery > 0 && (batchId + 1) % reconcileEvery == 0) {
          reconcile(batch.sparkSession, registryDir, verdictDir, idCol)
          ()
        }
    }

  /** Audit shape of one [[reconcile]] run — bounded driver-side aggregates
    * (counts only, never corpus rows). */
  case class ReconcileStats(nDocs: Long, nClusters: Long,
                            nVerdictLinksCanonicalized: Long,
                            nRegistryRowsRemapped: Long)

  /** Periodic chain-canonicalization reconcile — closes the drift the
    * per-batch verdict deliberately leaves open (scaladoc above: `dup_of`
    * is the smallest COLLIDING partner, so B~A-while-A~R chains can point
    * a verdict at a document that is itself a dup, and a registry seeded
    * from an undeduplicated corpus can carry two representatives of one
    * neighborhood). Run it the way compaction runs: out-of-band, between
    * batches, single-writer.
    *
    *   1. edge set = verdict links (`dup_of`) ∪ registry bucket collisions
    *      between DIFFERENT representatives (per (band, minhash) group:
    *      each extra rep links to the group's min rep — one edge per row,
    *      never a quadratic pair blowup even in a mega bucket). A bucket
    *      collision is exactly this operator's OWN dup semantic — any doc
    *      arriving over two colliding sibling reps is flagged against one
    *      of them already — so collapsing the siblings changes no future
    *      verdict's is_dup, only which representative it names (the
    *      exact-rescoring twin is [[IncrementalVecDedup]], whose registry
    *      this reconcile deliberately does not touch);
    *   2. [[Dedup.clusterPairs]] resolves the chains distributed
    *      (the q65/q88 star-contraction operator);
    *   3. each cluster's canonical representative = its smallest KEPT
    *      doc (never flagged dup by any verdict) — admission history is
    *      immutable, so `is_dup` flags are untouched; only the POINTERS
    *      (`dup_of`, registry `rep_doc_id`) rewrite, both via the same
    *      crash-safe rename-aside swap as compaction — and the rewrite
    *      preserves every other verdict column, so a richer verdict dir
    *      ([[IngestCuration]]'s 30-column audit rows) reconciles without
    *      losing its audit trail;
    *   4. idempotent: a second run finds every pointer already canonical
    *      and rewrites byte-identical content (ReconcileSpec pins
    *      remapped counts of 0).
    *
    * Scale shape: one grouped aggregate on the registry keys, one
    * star-contraction over KB-scale edge relations, and two shuffle joins
    * of corpus-grained frames on their ids — no broadcast of anything
    * corpus-derived, no driver pull beyond the returned counts. */
  def reconcile(spark: SparkSession, registryDir: String,
                verdictDir: String, idCol: String = "doc_id"): ReconcileStats =
    reconcileImpl(spark, registryDir, verdictDir, idCol, Nil).reconcile

  /** Audit shape of one [[eraseAndReconcile]] run. */
  case class EraseStats(nVerdictRowsErased: Long, nRegistryRowsErased: Long,
                        reconcile: ReconcileStats)

  /** Takedown/GDPR erasure COMPOSED with chain reconciliation — the one
    * erase the per-gate `deleteDocs` sweep deliberately left to this
    * operator (deleting a bucket representative orphans `dup_of` chains;
    * a standalone row-eraser here would be wrong by construction). One
    * pass, in order:
    *
    *   1. TOMBSTONE the ids in `_erased/` first ([[processBatch]] and
    *      [[seedRegistry]] anti-join every future batch against it, so a
    *      pre-erase checkpoint replay cannot re-register the doc or
    *      re-emit a verdict for it — the serving-store discipline of
    *      [[graft.sources.PostingsStore.deleteDocs]], stronger than the
    *      doc-grained registries' "novel again" semantics because a
    *      chain eraser that lets replays resurrect its own subject never
    *      converges); a crash mid-erase retries into convergence — every
    *      rewrite below is idempotent;
    *   2. cluster ALL accumulated links ([[reconcile]]'s edge set —
    *      including the erased docs' own links, which is what routes an
    *      orphaned chain to its successor), with the canonical
    *      representative now the smallest KEPT, NON-ERASED doc; a
    *      cluster whose every kept doc is erased falls back to its
    *      smallest surviving member — the SUCCESSION representative,
    *      whose own verdict then points at itself (`dup_of = doc_id`,
    *      `is_dup` untouched: admission history is immutable, and the
    *      self-pointer is the explicit "my representative was erased; I
    *      anchor the chain now" marker);
    *   3. rewrite the verdict dir: the erased docs' rows DELETED (their
    *      ids, flags, and pointers stop existing), every surviving
    *      `dup_of` repointed through the mapping — same crash-safe swap
    *      and audit-column preservation as [[reconcile]];
    *   4. rewrite the registry: the erased docs' signature rows DELETED
    *      (the minhashes derive from the erased content — they must go),
    *      surviving `rep_doc_id`s repointed. The erased rep's
    *      NEIGHBORHOOD COVERAGE goes with its rows, by design: the
    *      successor's signatures are not reconstructible from the
    *      registry (its text was never stored); re-guarding the
    *      neighborhood is a corpus-side [[seedRegistry]] pass on the
    *      successor, the caller's call.
    *
    * Downstream `admitted()`/audit streams that REFERENCE the erased doc
    * remain the consumer's to scrub, as with every registry erasure here.
    * Idempotent: a re-run finds no rows to erase and no pointer to move. */
  def eraseAndReconcile(spark: SparkSession, registryDir: String,
                        verdictDir: String, docIds: Seq[Long],
                        idCol: String = "doc_id"): EraseStats = {
    require(docIds.nonEmpty, "dedup registry erase: empty id list")
    import spark.implicits._
    docIds.toDF("doc_id").coalesce(1)
      .write.mode(SaveMode.Append)
      .parquet(erasedDir(registryDir))
    reconcileImpl(spark, registryDir, verdictDir, idCol, docIds)
  }

  private def reconcileImpl(spark: SparkSession, registryDir: String,
                            verdictDir: String, idCol: String,
                            erase: Seq[Long]): EraseStats = {
    // the FULL verdict relation rides through to the rewrite — a richer
    // verdict dir (IngestCuration's 30-column audit rows) keeps every
    // column, with only dup_of repointed (and, under an erase, the erased
    // docs' rows dropped)
    val allRead = spark.read.parquet(verdictDir)
    val allVerdicts =
      if (erase.isEmpty) allRead
      else allRead.filter(!col(idCol).isInCollection(erase))
    val nVerdictsErased =
      if (erase.isEmpty) 0L
      else allRead.filter(col(idCol).isInCollection(erase)).count()
    // edges and nodes come from the PRE-erase relations: the erased docs'
    // own links are what route an orphaned chain to its successor
    val verdicts = allRead.select(col(idCol), col("is_dup"), col("dup_of"))
    val registryAll = readRegistry(spark, registryDir)
    val registry =
      if (erase.isEmpty) registryAll
      else registryAll.filter(!col("rep_doc_id").isInCollection(erase))
    val nRegistryErased =
      if (erase.isEmpty) 0L
      else registryAll.filter(col("rep_doc_id").isInCollection(erase)).count()

    val verdictEdges = verdicts.filter(col("is_dup"))
      .select(col(idCol).as("doc_a"), col("dup_of").as("doc_b")).distinct()
    // registry edges come from the PRE-erase rows too (registryAll, the
    // verdictEdges rule): a chain connected to a surviving kept rep only
    // through the erased rep's (band, minhash) co-bucket rows must repoint
    // to that kept rep, not mint a succession rep — the erase filter
    // applies to the REWRITE and the canonical exclusion, never the edges
    val regReps = registryAll
      .select(col("band"), col("minhash"), col("rep_doc_id")).distinct()
    val bucketMin = regReps.groupBy(col("band"), col("minhash"))
      .agg(min(col("rep_doc_id")).as("min_rep"))
    val registryEdges = regReps.join(bucketMin, Seq("band", "minhash"))
      .filter(col("rep_doc_id") =!= col("min_rep"))
      .select(col("rep_doc_id").as("doc_a"), col("min_rep").as("doc_b"))
      .distinct()

    val nodes = verdicts.select(col(idCol))
      .union(registryAll.select(col("rep_doc_id").as(idCol))).distinct()
    val clusters = Dedup.clusterPairs(nodes,
      verdictEdges.union(registryEdges), idCol)

    // kept = never flagged dup by any verdict (seeded registry reps have
    // no verdict row and count as kept) and NOT erased; canonical = min
    // kept id. Every cluster contains at least one kept doc — chains
    // terminate at a registered representative — but erasing that
    // representative (or a pathological all-dup cluster from hand-edited
    // state) falls back to the smallest surviving member: the SUCCESSION
    // representative. The erased ids themselves never become canonical.
    val dupIds = verdicts.filter(col("is_dup")).select(col(idCol)).distinct()
    val excluded =
      if (erase.isEmpty) dupIds
      else {
        import spark.implicits._
        dupIds.union(erase.toDF(idCol)).distinct()
      }
    val canonKept = clusters.join(excluded, Seq(idCol), "left_anti")
      .groupBy(col("cluster_rep")).agg(min(col(idCol)).as("canon_kept"))
    val canonAlive =
      (if (erase.isEmpty) clusters
       else clusters.filter(!col(idCol).isInCollection(erase)))
        .groupBy(col("cluster_rep")).agg(min(col(idCol)).as("canon_alive"))
    val mapping = clusters
      .join(canonKept, Seq("cluster_rep"), "left")
      .join(canonAlive, Seq("cluster_rep"), "left")
      .select(col(idCol),
        coalesce(col("canon_kept"), col("canon_alive"), col("cluster_rep"))
          .as("canon_rep"))
      .persist()

    val newVerdicts = allVerdicts
      .join(mapping.withColumnRenamed(idCol, "dup_of")
        .withColumnRenamed("canon_rep", "canon_dup_of"), Seq("dup_of"), "left")
      .withColumn("new_dup_of",
        when(col("is_dup"), coalesce(col("canon_dup_of"), col("dup_of")))
          .otherwise(col("dup_of")))
      .drop("canon_dup_of")
    val nLinks = newVerdicts
      .filter(col("is_dup") && col("new_dup_of") =!= col("dup_of")).count()
    val newRegistry = registry
      .join(mapping.withColumnRenamed(idCol, "rep_doc_id"),
        Seq("rep_doc_id"), "left")
      .select(col("band"), col("bucket"), col("minhash"),
        coalesce(col("canon_rep"), col("rep_doc_id")).as("new_rep"),
        col("rep_doc_id"))
    val nRegRows = newRegistry.filter(col("new_rep") =!= col("rep_doc_id")).count()
    // mapping is persisted and carries exactly one row per node — count it
    // instead of re-reading + re-unioning the verdict dir and registry
    val nDocs = mapping.count()
    val nClusters = mapping.select(col("canon_rep")).distinct().count()

    // Both rewrites' lineage reaches BOTH live dirs through `mapping`
    // (persist() caches it, but an evicted partition recomputes through
    // the original scans), so every tmp write happens before EITHER dir
    // is replaced — otherwise a registry-write recompute could re-read an
    // already-swapped verdict dir and die with FileNotFoundException.
    val verdictTmp = verdictDir.stripSuffix("/") + ".reconciling"
    val registryTmp = registryDir.stripSuffix("/") + ".reconciling"
    val rewriteVerdicts = nLinks > 0 || nVerdictsErased > 0
    val rewriteRegistry = nRegRows > 0 || nRegistryErased > 0
    if (rewriteVerdicts) {
      val outCols = allVerdicts.columns.map {
        case "dup_of" => col("new_dup_of").as("dup_of")
        case c => col(c)
      }
      newVerdicts.select(outCols.toSeq: _*)
        .write.mode(SaveMode.Overwrite).parquet(verdictTmp)
    }
    if (rewriteRegistry) {
      // distinct: collapsed sibling reps leave byte-identical rows per
      // (band, minhash) — without it the duplicates would persist forever
      // (the idempotent second run rewrites nothing) and inflate exactly
      // the probe I/O the pruned registry bounds
      newRegistry
        .select(col("band"), col("bucket"), col("minhash"),
          col("new_rep").as("rep_doc_id"))
        .distinct()
        .write.mode(SaveMode.Overwrite)
        .partitionBy("band", "bucket").parquet(registryTmp)
    }
    if (rewriteVerdicts) graft.queue.Maintenance.replaceDir(verdictTmp, verdictDir)
    if (rewriteRegistry) graft.queue.Maintenance.replaceDir(registryTmp, registryDir)
    mapping.unpersist()
    EraseStats(nVerdictsErased, nRegistryErased,
      ReconcileStats(nDocs, nClusters, nLinks, nRegRows))
  }
}
