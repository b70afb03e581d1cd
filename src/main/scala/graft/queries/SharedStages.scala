package graft.queries

import graft.Tables
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared persisted intermediates of the documents pipeline.
  *
  * The shingle set is the common input of MinHash signatures, LSH candidate
  * generation, Jaccard verification, n-gram frequency, and decontamination.
  * On a cluster you'd materialize it once as a staging table; the
  * single-job analog is one persisted DataFrame per (session, dir) —
  * Spark's CacheManager then plan-matches every reuse, so each consumer
  * reads the md5'd shingles instead of recomputing them. Memoized so
  * persist() runs once (re-persisting an already-cached plan warns and
  * rescans).
  */
object SharedStages {
  private def memo(cache: java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame],
                   s: SparkSession, dir: String)(build: => DataFrame): DataFrame =
    if (sys.env.contains("SPARK_GRAFT_NOCACHE")) build // dev A/B knob
    else cache.computeIfAbsent((s, dir), _ =>
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private val shingleCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Word-trigram shingles of the documents table: (doc_id, shingle),
    * with multiplicity (n-gram frequency needs the duplicates).
    *
    * Built over the BALANCED documents relation
    * ([[Tables.documentsBalanced]]): on an under-filed layout the shingle
    * explode otherwise runs inside a one-task scan stage, and the
    * persisted cache then carries that single partition into every
    * consumer's first aggregation. Balancing keys by doc_id so the
    * cached BLOCKS are doc-spread and data-proportional in count
    * (r21: the r20 claim that consumers also skip their aggregation
    * exchanges was checked against the committed plans and is FALSE —
    * an AQE-planned cached relation does not expose its partitioning,
    * so doc-clustered consumers still exchange; the balance win is scan
    * parallelism and right-sized cache partitions, not exchange
    * elimination). */
  def shingles(s: SparkSession, dir: String): DataFrame =
    memo(shingleCache, s, dir)(
      Dedup.shingles(Tables.documentsBalanced(s, dir)))

  private val distinctShingleCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Distinct per-document shingle SET — persisted. This REVERSES the
    * pre-r20 "recompute the distinct, ReuseExchange shares it" stance:
    * the r20 plan audit showed ReuseExchange does NOT fire across the
    * containment/Jaccard consumers (each occurrence carries different
    * pushed null filters, so the canonical subtrees differ), so q113
    * recomputed this distinct EIGHT times per run and q33/q87/q59/q76
    * two-to-three times each. One persisted copy turns those into cache
    * scans; built over the balanced shingle stage, it inherits
    * HashPartitioning(doc_id), so per-doc set sizes and the doc-keyed
    * intersect joins also skip their exchanges. */
  def distinctShingles(s: SparkSession, dir: String): DataFrame =
    memo(distinctShingleCache, s, dir)(shingles(s, dir).distinct())

  private val sizesCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Per-document distinct-shingle SET SIZE — one narrow row per document.
    * Every verify/decontamination consumer recomputed this as its own full
    * aggregate over the distinct-shingle cache (r21 plan audit: q113 ran it
    * TWICE — once per pair side — and q33/q87 once each; q59/q76/q78/q85
    * ran the same aggregate restricted to eval docs as `tot`). Narrow,
    * one row per document; on a cluster it is a one-column staging table
    * beside the shingle set. */
  def shingleSetSizes(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    memo(sizesCache, s, dir)(
      distinctShingles(s, dir).groupBy(col("doc_id"))
        .agg(count(lit(1)).as("set_size")))
  }

  private val rarePostingsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Document-frequency cap of containment blocking's rare shingles. */
  val ContainmentMaxDf = 8

  /** Containment blocking's rare-postings relation: (shingle, doc_id)
    * restricted to shingles with corpus df ≤ [[ContainmentMaxDf]]. The
    * candidate self-join consumes it TWICE (one side per pair role), and
    * unpersisted each side re-ran the df aggregate + postings join over
    * the full shingle cache (r21 plan audit of q113: the rare aggregate's
    * Exchange appeared twice — ReuseExchange cannot match the sides'
    * differing projections). Linear in the corpus by the df cap
    * (≤ maxDf · |rare shingles| rows); the cluster analog is the staging
    * table a containment-dedup pipeline materializes between its blocking
    * and verify passes. */
  def rarePostings(s: SparkSession, dir: String): DataFrame =
    memo(rarePostingsCache, s, dir)(
      Dedup.rarePostings(distinctShingles(s, dir), maxDf = ContainmentMaxDf,
        preDistincted = true))

  private val benchShCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Distinct benchmark (src0) shingle set — the decontamination join's
    * small side, KB-scale BY CONTRACT (an eval set's shingles, bounded at
    * any corpus scale; [[benchmarkBloom]] serializes this very relation
    * into a KB filter). q59, q76 and the q78/q85 pipeline each rebuilt it
    * with a full pass over the distinct-shingle cache; one persisted copy
    * turns those into a tiny cache scan feeding the existing broadcast. */
  def benchmarkShingles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    memo(benchShCache, s, dir)(
      distinctShingles(s, dir)
        .join(Tables.documents(s, dir).filter(col("source") === "src0")
          .select(col("doc_id")), "doc_id")
        .select(col("shingle")).distinct())
  }

  private val sigCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val candCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** MinHash band signatures — 4 narrow rows per document, read by the
    * signature listing, candidate generation, and Jaccard verification. */
  def minhashSigs(s: SparkSession, dir: String): DataFrame =
    memo(sigCache, s, dir)(
      Dedup.minhashSignatures(shingles(s, dir), bands = 4))

  /** LSH candidate pairs — the banded self-join's output is one narrow row
    * per candidate pair; q32 lists it and q33 verifies it. */
  def lshCandidates(s: SparkSession, dir: String): DataFrame =
    memo(candCache, s, dir)(Dedup.lshCandidates(minhashSigs(s, dir)))

  private val cappedCandCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Mega-bucket-capped LSH candidate pairs ([[Dedup.lshCandidatesCapped]],
    * cap 4 — binding at this test scale; a production corpus tunes it to
    * its bucket histogram's boilerplate knee). q86 lists it and q87
    * verifies it. */
  def lshCandidatesCapped(s: SparkSession, dir: String): DataFrame =
    memo(cappedCandCache, s, dir)(
      Dedup.lshCandidatesCapped(minhashSigs(s, dir), maxBucketDocs = 4)._1)

  private val clusterCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Connected-components labels over the LSH candidate graph — one narrow
    * row per document, produced by an iterative job (several rounds of
    * tiny shuffles whose cost is scheduling, not data). */
  def dupClusters(s: SparkSession, dir: String): DataFrame =
    memo(clusterCache, s, dir)(
      Dedup.clusterPairs(
        Tables.documents(s, dir).select(org.apache.spark.sql.functions.col("doc_id")),
        lshCandidates(s, dir)))

  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Array[Byte]]()

  /** Serialized Bloom filter over the benchmark (src0) shingle set — the
    * decontamination prefilter. Built once per (session, dir) like any
    * staging artifact; at cluster scale this is a published sketch file,
    * not a per-query job. */
  def benchmarkBloom(s: SparkSession, dir: String): Array[Byte] = {
    import org.apache.spark.sql.functions._
    def build: Array[Byte] = {
      graft.functions.GraftFunctions.register(s)
      // built over the persisted benchmark-shingle stage: the bloom is that
      // relation's serialized form, so they must come from one derivation
      benchmarkShingles(s, dir)
        .agg(call_function("graft_bloom_agg",
          xxhash64(col("shingle")), lit(100000L), lit(800000L)).as("bf"))
        .head().getAs[Array[Byte]]("bf")
    }
    if (sys.env.contains("SPARK_GRAFT_NOCACHE")) build
    else bloomCache.computeIfAbsent((s, dir), _ => build)
  }

  /** Embedding near-dup pairs over the 0.35-similarity threshold via
    * multi-band LSH candidates + exact rescore (4 bands × 4 planes) — the
    * candidate join is the expensive stage, its output is tiny; both the
    * pair listing (q36) and the metadata join-back (q54) read it. The
    * DuckDB oracle replays the banding, so recall is part of the checked
    * semantic, not silent loss (see Similarity.lshNearDupPairs). */
  private val nearDupCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    memo(nearDupCache, s, dir)(
      graft.operators.Similarity.lshNearDupPairs(
        Tables.embeddings(s, dir), minSimMillionths = 350000L,
        planes = 16, bandWidth = 4))

  /** The UNFILTERED scored candidate relation (q102's input) — computed,
    * never memo-persisted: at this battery's loose 4×4 band geometry the
    * random-collision floor is ~23% of ALL pairs (Similarity's measured
    * regime table), so persisting it would cache a quadratic-in-corpus
    * relation where [[nearDupPairs]]'s above-threshold output is tiny.
    * q102 pays one candidate join + rescore per run instead; the dedup
    * consumers (q36/q54/q88) keep their tiny persisted stage. */
  def scoredCandidates(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.lshScoredCandidates(
      Tables.embeddings(s, dir), planes = 16, bandWidth = 4)

  /** Drop every memoized staging artifact of `s` (all dirs): unpersist the
    * cached plans and forget the memo entries, so the next consumer
    * rebuilds and re-persists from the source tables. The cluster analog
    * is dropping staging tables after a corpus refresh; ScaleBench calls
    * it between measurement groups so one pipeline's cold run is never
    * contaminated by (or evicted under) a neighbor's cache residue. */
  def invalidate(s: SparkSession): Unit = {
    Seq(shingleCache, distinctShingleCache, sizesCache, rarePostingsCache,
        benchShCache, nearDupCache, sigCache, candCache, cappedCandCache,
        clusterCache).foreach { c =>
      val it = c.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 eq s) { e.getValue.unpersist(blocking = true); it.remove() }
      }
    }
    bloomCache.keySet().removeIf(_._1 eq s)
  }
}
