package graft.queries

import graft.Tables
import graft.operators.{AsOfJoin, Merge, RangeJoin, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-2 surface: temporal as-of join, broadcast range join, IVF ANN,
  * document-level embedding near-dup, and batch CDC-apply (MERGE). Each
  * query is deterministic and DuckDB-oracle-checked.
  */
object AdvancedQueries extends graft.QueryModule {
  type Q = (SparkSession, String) => DataFrame

  /** As-of join (§2.3): every purchase enriched with the user's latest
    * prior-or-simultaneous click — one shuffle, union+window plan. */
  def asofPurchaseClick(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
    // every event ts is unique in this feed; a (user_id, ts) dedupe would
    // go here if the right side could carry same-instant duplicates
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"ts".as("click_ts"), $"event_id".as("click_event_id"))
    AsOfJoin.backward(purchases, clicks, "user_id", "ts", "ts")
      .select($"event_id", $"user_id", $"ts", $"value",
        $"matched.click_event_id".as("click_event_id"),
        $"matched.click_ts".as("click_ts"),
        (unix_micros($"ts") - unix_micros($"matched.click_ts")).as("gap_us"))
      .orderBy($"event_id")
  }

  /** Broadcast range (band) join (§2.3 EXT): price banding of lineitem —
    * fact side never shuffles for the join. */
  def rangeBandJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import Determinism._
    val bands = Seq(
      (1, 0.0, 10000.0), (2, 10000.0, 25000.0), (3, 25000.0, 50000.0),
      (4, 50000.0, 75000.0), (5, 75000.0, 1000000.0))
      .toDF("band_id", "lo", "hi")
    RangeJoin.bands(Tables.lineitem(s, dir), bands, "l_extendedprice")
      .groupBy($"band_id")
      .agg(count(lit(1)).as("n_items"), dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"band_id")
  }

  /** IVF ANN (§2.9 L2 scale path): probe the 2 best of 16 inverted lists. */
  def ivfTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(s, dir), queryId = 0L, k = 10,
      nlist = 16, nprobe = 2)

  /** q112: the same ANN query served from the PERSISTED inverted-file
    * index ([[graft.sources.IvfIndexStore]], built once per JVM) — q53's
    * parameters, q53's oracle, so the build→persist→partition-prune→score
    * chain is hash-gated end-to-end. The single-row query-vector fetch is
    * the serving contract: an ANN service receives the vector, not a
    * corpus row id. */
  def ivfStoreTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = graft.sources.IvfIndexStore.layoutFor(
      s, dir, Tables.embeddings(s, dir), nlist = 16)
    val qvec = Tables.embeddings(s, dir).filter($"vec_id" === 0L)
      .select($"embedding").as[Seq[Float]].head()
    graft.sources.IvfIndexStore.topK(s, store, qvec, k = 10, nprobe = 2)
  }

  /** q115: BATCHED serving from the persisted IVF index — q83's
    * query-batch shape (5 query vectors, each wanting its top-10) answered
    * from q112's store in ONE pruned corpus pass
    * ([[graft.sources.IvfIndexStore.topKBatch]]): per-query probe
    * selection on the broadcast codebook, the UNION of probed lists as one
    * scan's partition filter, per-query scoring confined to each query's
    * own probed lists, bounded top-k aggregation. The oracle replays probe
    * selection + scoring per query (q112's discipline, q83's output
    * shape), so recall here is DEFINED (exact within probed lists), not
    * approximated. */
  def ivfStoreBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val store = graft.sources.IvfIndexStore.layoutFor(s, dir, emb, nlist = 16)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    graft.sources.IvfIndexStore.topKBatch(s, store, queries, k = 10, nprobe = 2)
      .orderBy($"query_id", $"rn")
  }

  /** q118: IVF-PQ serving from the PERSISTED index — the composed 100 TB
    * ANN shape answered from the store: probe selection on the codebook,
    * ADC over the probed lists' CODES column only (the scan column-prunes
    * past the raw vectors — the 32× bytes-read reduction that makes
    * serving affordable), exact rescore of the refine·k candidates
    * through a partition-pruned, id-pushed point read. Parameters are
    * q90's (m=8, ksub=16, refine=4, seed codebooks) over q112's store
    * shape (nlist=16, nprobe=2), so the oracle composes their replays:
    * every code, the candidate cut, and the exact rescore are re-derived
    * in DuckDB. */
  def ivfPqStoreTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val store = graft.sources.IvfIndexStore.layoutForPq(s, dir, emb, nlist = 16)
    val qvec = emb.filter($"vec_id" === 0L)
      .select($"embedding").as[Seq[Float]].head()
    graft.sources.IvfIndexStore.adcTopK(s, store, qvec, k = 10, nprobe = 2,
      refine = 4)
  }

  /** q119: the batched IVF-PQ serving shape — q115's 5-query batch
    * answered from the PQ store via ONE codes-only scan (per-query ADC
    * tables as a broadcast relation, fixed-order fold identical to the
    * single-query literal projection) + one pushed exact rescore. The
    * oracle replays probes, every code, each query's quantized refine·k
    * cut, and the rescore — a cross-query leak, a wrong-order fold, or a
    * candidate from an unprobed list hash-fails. */
  def ivfPqStoreBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val store = graft.sources.IvfIndexStore.layoutForPq(s, dir, emb, nlist = 16)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    graft.sources.IvfIndexStore.adcTopKBatch(s, store, queries, k = 10,
      nprobe = 2, refine = 4)
      .orderBy($"query_id", $"rn")
  }

  /** q121: FILTERED ANN from the persisted store — the retrieval-service
    * shape with a metadata predicate (label = 3, ~10% selectivity): the
    * store lands every input column in its lists, so the filter PUSHES to
    * the probed scan (PushedFilters beside the PartitionFilters probe
    * literals — no post-serve join). Semantics are exact top-k over the
    * filtered rows of the probed lists; the selective predicate thins
    * candidates, so the query over-probes (nprobe 4 of 16, vs q112's 2)
    * — the honest knob, and the oracle replays exactly that: 4-list
    * probe, label-filtered scoring. */
  def ivfFilteredTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val store = graft.sources.IvfIndexStore.layoutFor(s, dir, emb, nlist = 16)
    val qvec = emb.filter($"vec_id" === 0L)
      .select($"embedding").as[Seq[Float]].head()
    graft.sources.IvfIndexStore.topK(s, store, qvec, k = 10, nprobe = 4,
      where = Some(col("label") === 3))
  }

  /** q122: DELETION from the persisted store — the takedown/GDPR
    * maintenance face ([[graft.sources.IvfIndexStore.delete]]): a store
    * built exactly like q112's has every `vec_id % 5 = 3` vector deleted
    * (deterministic, so DuckDB replays it as a serving-side exclusion),
    * then serves q112's query. Only the affected list leaves were
    * rewritten (one snapshot commit; spec-pinned); the frozen codebook
    * keeps its centroids — deletion removes servable vectors, not
    * layout. The oracle is q112's replay minus the deleted ids: a
    * tombstone leak, a leaf the rewrite missed, or a deleted id
    * resurfacing in top-k hash-fails here. Later battery passes re-serve
    * from the memoized deleted store (the q112 discipline). */
  def ivfDeletedTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val storeDir = graft.sources.IvfIndexStore.batteryLayout(s, s"$dir|deleted",
        "deleted_" + dir) { d =>
      graft.sources.IvfIndexStore.build(emb, d, nlist = 16)
      val ids = emb.filter($"vec_id" % 5 === 3)
        .select($"vec_id").as[Long].collect().toSeq.sorted
      graft.sources.IvfIndexStore.delete(s, d, ids)
    }
    val qvec = emb.filter($"vec_id" === 0L)
      .select($"embedding").as[Seq[Float]].head()
    graft.sources.IvfIndexStore.topK(s, storeDir, qvec, k = 10, nprobe = 2)
  }

  /** q123: ADAPTIVE over-probe for filtered ANN — q121's honest knob,
    * closed-loop ([[graft.sources.IvfIndexStore.topKAdaptive]]): the
    * predicate (label = 3 AND vec_id < 40) matches only ~4 vectors at
    * every SF, fewer than k = 10, so the loop provably widens 2 → 4 → 8
    * → 16 = nlist and the result is EXACTLY brute force over the
    * filtered corpus — which is the oracle, with no probe CTE at all:
    * the escalation endpoint is SQL-expressible precisely because the
    * spec pins nprobe = nlist ≡ filtered brute force. */
  def ivfAdaptiveFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val store = graft.sources.IvfIndexStore.layoutFor(s, dir, emb, nlist = 16)
    val qvec = emb.filter($"vec_id" === 0L)
      .select($"embedding").as[Seq[Float]].head()
    graft.sources.IvfIndexStore.topKAdaptive(s, store, qvec, k = 10,
      where = col("label") === 3 && col("vec_id") < 40, nprobe = 2)
  }

  /** q139: LEAF-MERGED serving — the IVF store's batch-count discipline
    * ([[graft.sources.IvfIndexStore.mergeLeaves]]): a store seeded with
    * the first 100 vectors (codebook = first 16, q112's) ingests the
    * rest as TEN striped appends (eleven batches of leaves per touched
    * list), then the smallest batches fold until four remain — no
    * re-cluster, no reassignment, every row byte-identical. Serving
    * q112's query must therefore reproduce q112's oracle VERBATIM: a row
    * lost or doubled by the merge, a leaf the commit missed, or a replayed
    * folded batch slipping past the `_folded` tripwire hash-fails here.
    * Later battery passes re-serve from the memoized merged store (the
    * q112 discipline). */
  def ivfMergedTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val storeDir = graft.sources.IvfIndexStore.batteryLayout(s, s"$dir|merged",
        "merged_" + dir) { d =>
      graft.sources.IvfIndexStore.build(emb.filter($"vec_id" < 100), d, nlist = 16)
      (0 to 9).foreach(b => graft.sources.IvfIndexStore.appendBatch(
        emb.filter($"vec_id" >= 100 && $"vec_id" % 10 === b), d, batchId = b.toLong))
      require(graft.sources.IvfIndexStore.mergeLeaves(s, d, maxBatches = 4),
        "q139 fixture: the leaf merge was a no-op")
    }
    val qvec = emb.filter($"vec_id" === 0L)
      .select($"embedding").as[Seq[Float]].head()
    graft.sources.IvfIndexStore.topK(s, storeDir, qvec, k = 10, nprobe = 2)
  }

  /** q120: the REBUILD SIGNAL of the frozen-codebook maintenance contract
    * ([[graft.sources.IvfIndexStore.qualityReport]]): a PQ store built on
    * the first 300 vectors ingests the rest (in-distribution, batch 0)
    * and a deterministically magnitude-drifted batch (×2-scaled copies —
    * exact in float, so the DuckDB oracle replays every code and every
    * flag; batch 1). The report's per-batch mean quantized reconstruction
    * error — evaluated against the STORED codes, so stale/corrupt codes
    * surface exactly like drifted data — must flag batch 1 and only
    * batch 1. Later battery passes re-serve from the memoized store, the
    * q112 discipline. */
  def pqDriftReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val storeDir = graft.sources.IvfIndexStore.batteryLayout(s, s"$dir|pqdrift",
        "pqdrift_" + dir) { d =>
      val base = emb.filter($"vec_id" < 300)
      val cb = graft.operators.ProductQuantizer.train(base, m = 8, ksub = 16, iters = 0)
      graft.sources.IvfIndexStore.build(base, d, nlist = 16, pq = Some(cb))
      graft.sources.IvfIndexStore.appendBatch(
        emb.filter($"vec_id" >= 300), d, batchId = 0)
      val drifted = emb.filter($"vec_id" < 100)
        .select(($"vec_id" + 1000000L).as("vec_id"),
          transform($"embedding", x => (x * lit(2.0f)).cast("float")).as("embedding"),
          $"label")
      graft.sources.IvfIndexStore.appendBatch(drifted, d, batchId = 1)
    }
    graft.sources.IvfIndexStore.qualityReport(s, storeDir, factor = 2.0)
  }

  /** Embedding-cosine near-dup on the documents table (§2.9 L1): pairs over
    * threshold joined back to document metadata (broadcast dimension). */
  def docNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val meta = Tables.documents(s, dir).select($"doc_id", $"lang", $"source")
    SharedStages.nearDupPairs(s, dir)
      .join(broadcast(meta.select($"doc_id".as("vec_a"),
        $"lang".as("lang_a"), $"source".as("source_a"))), "vec_a")
      .join(broadcast(meta.select($"doc_id".as("vec_b"),
        $"lang".as("lang_b"), $"source".as("source_b"))), "vec_b")
      .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b"), $"sim_q",
        $"lang_a", $"lang_b", ($"source_a" === $"source_b").as("same_source"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Salted skew join in the oracle battery: events (user_id is the skewed
    * key in any real feed) joined to a small user-attribute dim through
    * [[graft.operators.SkewJoin]] — result provably identical to the plain
    * join, but the hot key fans over 8 buckets. */
  def saltedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import Determinism._
    val userDim = Tables.events(s, dir)
      .select($"user_id").distinct()
      .withColumn("cohort", ($"user_id" % 4).cast("int"))
    graft.operators.SkewJoin.salted(
      Tables.events(s, dir), userDim, "user_id", $"event_id", buckets = 8)
      .groupBy($"cohort")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .orderBy($"cohort")
  }

  /** Batch CDC-apply (S5/J2 closure): a deterministic change feed (deletes,
    * two generations of updates, inserts) merged into the customer snapshot
    * via [[Merge.applyChanges]] — last change per key wins by ts. */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    def ts(extraDays: Int) = expr(
      s"timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,$extraDays,0,0,c_custkey)")
    val del = cust.filter($"c_custkey" % 10 === 3).select(
      $"c_custkey", lit("DELETE").as("op"), ts(0).as("ts"),
      lit(null).cast("string").as("c_name"), lit(null).cast("int").as("c_nationkey"),
      lit(null).cast("double").as("c_acctbal"), lit(null).cast("string").as("c_mktsegment"))
    val upd1 = cust.filter($"c_custkey" % 10 === 4).select(
      $"c_custkey", lit("UPDATE").as("op"), ts(0).as("ts"),
      $"c_name", $"c_nationkey", ($"c_acctbal" + 100.0).as("c_acctbal"), $"c_mktsegment")
    val upd2 = cust.filter($"c_custkey" % 20 === 4).select(
      $"c_custkey", lit("UPDATE").as("op"), ts(1).as("ts"),
      $"c_name", $"c_nationkey", ($"c_acctbal" + 200.0).as("c_acctbal"),
      lit("REVISED").as("c_mktsegment"))
    val ins = cust.filter($"c_custkey" % 10 === 5).select(
      ($"c_custkey" + 10000000L).as("c_custkey"), lit("INSERT").as("op"),
      expr("timestamp '2024-01-01 00:00:00'").as("ts"),
      concat(lit("NEW#"), $"c_custkey".cast("string")).as("c_name"),
      $"c_nationkey", $"c_acctbal", lit("FRESH").as("c_mktsegment"))
    val changes = del.unionByName(upd1).unionByName(upd2).unionByName(ins)
    Merge.applyChanges(cust, changes, Seq("c_custkey"), "ts", "op")
      .orderBy($"c_custkey")
  }

  def queries: Map[String, Q] = Map(
    "q51_asof_join" -> asofPurchaseClick,
    "q52_range_band" -> rangeBandJoin,
    "q53_ivf_topk" -> ivfTopK,
    "q54_doc_neardup" -> docNearDup,
    "q55_cdc_apply" -> cdcApply,
    "q69_salted_join" -> saltedJoin,
    "q112_ivf_store" -> ivfStoreTopK,
    "q115_ivf_batch" -> ivfStoreBatch,
    "q118_ivfpq_store" -> ivfPqStoreTopK,
    "q119_ivfpq_batch" -> ivfPqStoreBatch,
    "q120_pq_drift" -> pqDriftReport,
    "q121_ivf_filtered" -> ivfFilteredTopK,
    "q122_ivf_deleted" -> ivfDeletedTopK,
    "q123_ivf_adaptive" -> ivfAdaptiveFiltered,
    "q139_ivf_merged" -> ivfMergedTopK)

  /** Shared by q53 (in-memory probe path) and q112 (persisted index): the
    * full IVF computation — deterministic first-16-vectors codebook,
    * nearest-centroid assignment with lowest-id ties, 2-list probe for
    * query vec 0, quantized-dot top-10 — replayed in portable SQL. */
  private def ivfServeOracle(servingFilter: String): String =
    s"""WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 16),
      |scored AS (
      |  SELECT e.vec_id, c.centroid_id,
      |    CAST(floor(sum(CAST(e.embedding[r.i] AS DOUBLE) * CAST(c.cvec[r.i] AS DOUBLE)) * 1000000) AS BIGINT) AS cdot
      |  FROM embeddings e, cent c, (SELECT unnest(range(1, 65)) AS i) r
      |  GROUP BY e.vec_id, c.centroid_id),
      |assigned AS (
      |  SELECT vec_id, centroid_id FROM (
      |    SELECT vec_id, centroid_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, centroid_id) AS rn
      |    FROM scored) WHERE rn = 1),
      |probe AS (SELECT centroid_id FROM scored WHERE vec_id = 0
      |          ORDER BY cdot DESC, centroid_id LIMIT 2),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |d AS (
      |  SELECT a.vec_id,
      |    CAST(floor(sum(CAST(e.embedding[r.i] AS DOUBLE) * CAST(q.qv[r.i] AS DOUBLE)) * 1000000) AS BIGINT) AS sim_q
      |  FROM assigned a
      |  JOIN probe p ON a.centroid_id = p.centroid_id
      |  JOIN embeddings e ON e.vec_id = a.vec_id, q, (SELECT unnest(range(1, 65)) AS i) r
      |  WHERE $servingFilter
      |  GROUP BY a.vec_id)
      |SELECT vec_id, sim_q FROM d ORDER BY sim_q DESC, vec_id LIMIT 10""".stripMargin

  private val ivfOracle = ivfServeOracle("TRUE")

  def oracles: Map[String, String] = Map(
    "q51_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, ts AS click_ts, event_id AS click_event_id
        |      FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |  c.click_event_id, c.click_ts,
        |  epoch_us(p.ts) - epoch_us(c.click_ts) AS gap_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "q52_range_band" ->
      """WITH bands(band_id, lo, hi) AS (VALUES
        |  (1, 0.0, 10000.0), (2, 10000.0, 25000.0), (3, 25000.0, 50000.0),
        |  (4, 50000.0, 75000.0), (5, 75000.0, 1000000.0))
        |SELECT band_id, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,
    "q53_ivf_topk" -> ivfOracle,
    // identical ANN computation served from the persisted index — a store
    // bug (stale lists, wrong codebook, broken pruning) hash-fails here
    "q112_ivf_store" -> ivfOracle,
    // the leaf merge is CONTENT-NEUTRAL (no reassignment, no codebook
    // change), so serving the merged multi-batch store must reproduce
    // q112's oracle verbatim — a lost or doubled row hash-fails
    "q139_ivf_merged" -> ivfOracle,
    // q112's replay minus the deleted ids: the deterministic takedown set
    // (vec_id % 5 = 3) must be gone from serving while the frozen
    // codebook keeps its centroids — a tombstone leak or a missed leaf
    // rewrite hash-fails here
    "q122_ivf_deleted" -> ivfServeOracle("a.vec_id % 5 <> 3"),
    // adaptive over-probe on a predicate with fewer than k matches: the
    // loop provably reaches nprobe = nlist, where serving ≡ brute force
    // over the filtered corpus — so the oracle needs no probe replay
    "q123_ivf_adaptive" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  CAST(floor(sum(CAST(e.embedding[r.i] AS DOUBLE) * CAST(q.qv[r.i] AS DOUBLE)) * 1000000) AS BIGINT) AS sim_q
        |FROM embeddings e, q, (SELECT unnest(range(1, 65)) AS i) r
        |WHERE e.label = 3 AND e.vec_id < 40
        |GROUP BY e.vec_id
        |ORDER BY sim_q DESC, e.vec_id LIMIT 10""".stripMargin,
    // the batched form: per-query probe selection over the same scored
    // CTE, per-query scoring confined to each query's own probed lists,
    // q83's ranked output shape — a cross-query leak (a vector scored
    // against a query that did not probe its list) hash-fails here
    "q115_ivf_batch" ->
      """WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 16),
        |scored AS (
        |  SELECT e.vec_id, c.centroid_id,
        |    CAST(floor(sum(CAST(e.embedding[r.i] AS DOUBLE) * CAST(c.cvec[r.i] AS DOUBLE)) * 1000000) AS BIGINT) AS cdot
        |  FROM embeddings e, cent c, (SELECT unnest(range(1, 65)) AS i) r
        |  GROUP BY e.vec_id, c.centroid_id),
        |assigned AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, centroid_id) AS rn
        |    FROM scored) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, centroid_id) AS rn
        |    FROM scored WHERE vec_id < 5) WHERE rn <= 2),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |d AS (
        |  SELECT p.query_id, a.vec_id,
        |    CAST(floor(sum(CAST(e.embedding[r.i] AS DOUBLE) * CAST(q.qv[r.i] AS DOUBLE)) * 1000000) AS BIGINT) AS sim_q
        |  FROM assigned a
        |  JOIN probes p ON a.centroid_id = p.centroid_id
        |  JOIN q ON q.query_id = p.query_id
        |  JOIN embeddings e ON e.vec_id = a.vec_id, (SELECT unnest(range(1, 65)) AS i) r
        |  GROUP BY p.query_id, a.vec_id),
        |ranked AS (
        |  SELECT query_id, vec_id, sim_q,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim_q DESC, vec_id) AS rn
        |  FROM d)
        |SELECT query_id, CAST(rn AS INTEGER) AS rn, vec_id, sim_q
        |FROM ranked WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin,
    // q118: q112's probe replay composed with q90's PQ replay — the oracle
    // re-derives the coarse assignment + 2-list probe, every PQ code
    // (seed codebooks, lowest-code quantized ties), the query's ADC table,
    // the quantized refine·k candidate cut RESTRICTED to the probed lists,
    // and the exact rescore. A store bug anywhere (stale codes, codes
    // encoded against the wrong codebook, pruning gone wrong, a candidate
    // leaking in from an unprobed list) hash-fails.
    "q118_ivfpq_store" ->
      """WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 16),
        |ivfscored AS (
        |  SELECT e.vec_id, c.centroid_id,
        |    CAST(floor(sum(CAST(e.embedding[r.i] AS DOUBLE) * CAST(c.cvec[r.i] AS DOUBLE)) * 1000000) AS BIGINT) AS cdot
        |  FROM embeddings e, cent c, (SELECT unnest(range(1, 65)) AS i) r
        |  GROUP BY e.vec_id, c.centroid_id),
        |assigned AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, centroid_id) AS rn
        |    FROM ivfscored) WHERE rn = 1),
        |probe AS (SELECT centroid_id FROM ivfscored WHERE vec_id = 0
        |          ORDER BY cdot DESC, centroid_id LIMIT 2),
        |sub AS (SELECT unnest(range(0, 8)) AS s),
        |jx AS (SELECT unnest(range(1, 9)) AS j),
        |pqc AS (
        |  SELECT sub.s AS sub, CAST(e.vec_id AS INTEGER) AS code, jx.j AS j,
        |    CAST(e.embedding[CAST(sub.s * 8 + jx.j AS INTEGER)] AS DOUBLE) AS cv
        |  FROM embeddings e, sub, jx WHERE e.vec_id < 16),
        |pqscored AS (
        |  SELECT v.vec_id, c.sub, c.code,
        |    CAST(floor((2 * sum(CAST(v.embedding[CAST(c.sub * 8 + c.j AS INTEGER)] AS DOUBLE) * c.cv)
        |                - sum(c.cv * c.cv)) * 1000000) AS BIGINT) AS score_q
        |  FROM embeddings v, pqc c
        |  GROUP BY v.vec_id, c.sub, c.code),
        |codes AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub
        |                         ORDER BY score_q DESC, code) AS rn
        |    FROM pqscored) WHERE rn = 1),
        |qtab AS (
        |  SELECT c.sub, c.code,
        |    sum(CAST(q.embedding[CAST(c.sub * 8 + c.j AS INTEGER)] AS DOUBLE) * c.cv) AS t
        |  FROM embeddings q, pqc c WHERE q.vec_id = 0
        |  GROUP BY c.sub, c.code),
        |cand AS (
        |  SELECT cd.vec_id
        |  FROM codes cd
        |  JOIN assigned a ON a.vec_id = cd.vec_id
        |  JOIN probe p ON a.centroid_id = p.centroid_id
        |  JOIN qtab ON cd.sub = qtab.sub AND cd.code = qtab.code
        |  GROUP BY cd.vec_id
        |  ORDER BY CAST(floor(sum(qtab.t) * 1000000) AS BIGINT) DESC, cd.vec_id
        |  LIMIT 40)
        |SELECT e.vec_id,
        |  CAST(floor(sum(CAST(e.embedding[dim.i] AS DOUBLE) * CAST(q.embedding[dim.i] AS DOUBLE)) * 1000000) AS BIGINT) AS sim_q
        |FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id,
        |     embeddings q, (SELECT unnest(range(1, 65)) AS i) dim
        |WHERE q.vec_id = 0
        |GROUP BY e.vec_id
        |ORDER BY sim_q DESC, e.vec_id LIMIT 10""".stripMargin,
    // q119: q118's replay, per-query — probes for each of the 5 queries,
    // per-query qtab, per-query quantized refine·k cut over ADC sums
    // restricted to THAT query's probed lists, exact rescore, rank ≤ k
    "q119_ivfpq_batch" ->
      """WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 16),
        |ivfscored AS (
        |  SELECT e.vec_id, c.centroid_id,
        |    CAST(floor(sum(CAST(e.embedding[r.i] AS DOUBLE) * CAST(c.cvec[r.i] AS DOUBLE)) * 1000000) AS BIGINT) AS cdot
        |  FROM embeddings e, cent c, (SELECT unnest(range(1, 65)) AS i) r
        |  GROUP BY e.vec_id, c.centroid_id),
        |assigned AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, centroid_id) AS rn
        |    FROM ivfscored) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, centroid_id) AS rn
        |    FROM ivfscored WHERE vec_id < 5) WHERE rn <= 2),
        |sub AS (SELECT unnest(range(0, 8)) AS s),
        |jx AS (SELECT unnest(range(1, 9)) AS j),
        |pqc AS (
        |  SELECT sub.s AS sub, CAST(e.vec_id AS INTEGER) AS code, jx.j AS j,
        |    CAST(e.embedding[CAST(sub.s * 8 + jx.j AS INTEGER)] AS DOUBLE) AS cv
        |  FROM embeddings e, sub, jx WHERE e.vec_id < 16),
        |pqscored AS (
        |  SELECT v.vec_id, c.sub, c.code,
        |    CAST(floor((2 * sum(CAST(v.embedding[CAST(c.sub * 8 + c.j AS INTEGER)] AS DOUBLE) * c.cv)
        |                - sum(c.cv * c.cv)) * 1000000) AS BIGINT) AS score_q
        |  FROM embeddings v, pqc c
        |  GROUP BY v.vec_id, c.sub, c.code),
        |codes AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub
        |                         ORDER BY score_q DESC, code) AS rn
        |    FROM pqscored) WHERE rn = 1),
        |qtab AS (
        |  SELECT q.vec_id AS query_id, c.sub, c.code,
        |    sum(CAST(q.embedding[CAST(c.sub * 8 + c.j AS INTEGER)] AS DOUBLE) * c.cv) AS t
        |  FROM embeddings q, pqc c WHERE q.vec_id < 5
        |  GROUP BY q.vec_id, c.sub, c.code),
        |adc AS (
        |  SELECT p.query_id, a.vec_id,
        |    CAST(floor(sum(qt.t) * 1000000) AS BIGINT) AS approx_q
        |  FROM assigned a
        |  JOIN probes p ON a.centroid_id = p.centroid_id
        |  JOIN codes cd ON cd.vec_id = a.vec_id
        |  JOIN qtab qt ON qt.query_id = p.query_id AND qt.sub = cd.sub AND qt.code = cd.code
        |  GROUP BY p.query_id, a.vec_id),
        |cand AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY approx_q DESC, vec_id) AS crn
        |    FROM adc) WHERE crn <= 40),
        |d AS (
        |  SELECT c.query_id, e.vec_id,
        |    CAST(floor(sum(CAST(e.embedding[r.i] AS DOUBLE) * CAST(q.embedding[r.i] AS DOUBLE)) * 1000000) AS BIGINT) AS sim_q
        |  FROM cand c
        |  JOIN embeddings e ON e.vec_id = c.vec_id
        |  JOIN embeddings q ON q.vec_id = c.query_id, (SELECT unnest(range(1, 65)) AS i) r
        |  GROUP BY c.query_id, e.vec_id),
        |ranked AS (
        |  SELECT query_id, vec_id, sim_q,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim_q DESC, vec_id) AS rn
        |  FROM d)
        |SELECT query_id, CAST(rn AS INTEGER) AS rn, vec_id, sim_q
        |FROM ranked WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin,
    // q121: q112's replay with the over-probe + metadata filter — 4-list
    // probe for query 0, scoring restricted to assigned-in-probe vectors
    // WITH label = 3, exact quantized top-10
    "q121_ivf_filtered" ->
      """WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 16),
        |scored AS (
        |  SELECT e.vec_id, c.centroid_id,
        |    CAST(floor(sum(CAST(e.embedding[r.i] AS DOUBLE) * CAST(c.cvec[r.i] AS DOUBLE)) * 1000000) AS BIGINT) AS cdot
        |  FROM embeddings e, cent c, (SELECT unnest(range(1, 65)) AS i) r
        |  GROUP BY e.vec_id, c.centroid_id),
        |assigned AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, centroid_id) AS rn
        |    FROM scored) WHERE rn = 1),
        |probe AS (SELECT centroid_id FROM scored WHERE vec_id = 0
        |          ORDER BY cdot DESC, centroid_id LIMIT 4),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (
        |  SELECT a.vec_id,
        |    CAST(floor(sum(CAST(e.embedding[r.i] AS DOUBLE) * CAST(q.qv[r.i] AS DOUBLE)) * 1000000) AS BIGINT) AS sim_q
        |  FROM assigned a
        |  JOIN probe p ON a.centroid_id = p.centroid_id
        |  JOIN embeddings e ON e.vec_id = a.vec_id AND e.label = 3, q, (SELECT unnest(range(1, 65)) AS i) r
        |  GROUP BY a.vec_id)
        |SELECT vec_id, sim_q FROM d ORDER BY sim_q DESC, vec_id LIMIT 10""".stripMargin,
    // q120: the oracle reconstructs the STORE'S CONTENT (base < 300 at
    // batch -1, the rest at batch 0, ×2-scaled copies at batch 1 — the
    // scale is exact in float, so the replay is bit-faithful), re-derives
    // every stored code (q89's argmax rule over the base-seeded
    // codebooks), the per-row quantized reconstruction error against that
    // code, the floor-division batch means, and the 2× drift flags
    "q120_pq_drift" ->
      """WITH stored AS (
        |  SELECT vec_id, embedding, -1 AS ingest_batch FROM embeddings WHERE vec_id < 300
        |  UNION ALL
        |  SELECT vec_id, embedding, 0 FROM embeddings WHERE vec_id >= 300
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding, x -> CAST(x * 2.0 AS REAL)), 1
        |  FROM embeddings WHERE vec_id < 100),
        |sub AS (SELECT unnest(range(0, 8)) AS s),
        |jx AS (SELECT unnest(range(1, 9)) AS j),
        |pqc AS (
        |  SELECT sub.s AS sub, CAST(e.vec_id AS INTEGER) AS code, jx.j AS j,
        |    CAST(e.embedding[CAST(sub.s * 8 + jx.j AS INTEGER)] AS DOUBLE) AS cv
        |  FROM embeddings e, sub, jx WHERE e.vec_id < 16),
        |pqscored AS (
        |  SELECT v.vec_id, v.ingest_batch, c.sub, c.code,
        |    CAST(floor((2 * sum(CAST(v.embedding[CAST(c.sub * 8 + c.j AS INTEGER)] AS DOUBLE) * c.cv)
        |                - sum(c.cv * c.cv)) * 1000000) AS BIGINT) AS score_q
        |  FROM stored v, pqc c
        |  GROUP BY v.vec_id, v.ingest_batch, c.sub, c.code),
        |beststored AS (
        |  SELECT vec_id, ingest_batch, sub, score_q FROM (
        |    SELECT vec_id, ingest_batch, sub, score_q,
        |      row_number() OVER (PARTITION BY vec_id, sub
        |                         ORDER BY score_q DESC, code) AS rn
        |    FROM pqscored) WHERE rn = 1),
        |aa AS (
        |  SELECT v.vec_id, s.s AS sub,
        |    CAST(floor(sum(CAST(v.embedding[CAST(s.s * 8 + j.j AS INTEGER)] AS DOUBLE)
        |             * CAST(v.embedding[CAST(s.s * 8 + j.j AS INTEGER)] AS DOUBLE)) * 1000000) AS BIGINT) AS aa_q
        |  FROM stored v, sub s, jx j GROUP BY v.vec_id, s.s),
        |err AS (
        |  SELECT b.vec_id, b.ingest_batch, sum(a.aa_q - b.score_q) AS err
        |  FROM beststored b JOIN aa a ON a.vec_id = b.vec_id AND a.sub = b.sub
        |  GROUP BY b.vec_id, b.ingest_batch),
        |rpt AS (
        |  SELECT ingest_batch, count(*) AS n_vecs,
        |    CAST(sum(err) // count(*) AS BIGINT) AS mean_err_ppm
        |  FROM err GROUP BY ingest_batch),
        |base AS (SELECT mean_err_ppm AS base_err FROM rpt WHERE ingest_batch = -1)
        |SELECT CAST(r.ingest_batch AS BIGINT) AS ingest_batch, r.n_vecs, r.mean_err_ppm,
        |  CAST(r.mean_err_ppm AS DOUBLE) > CAST(b.base_err AS DOUBLE) * 2.0 AS drifted
        |FROM rpt r, base b ORDER BY r.ingest_batch""".stripMargin,
    "q54_doc_neardup" -> (LlmQueries.lshNearDupCte +
      """
        |SELECT d.vec_a AS doc_a, d.vec_b AS doc_b,
        |  CAST(floor(dot * 1000000) AS BIGINT) AS sim_q,
        |  da.lang AS lang_a, db.lang AS lang_b,
        |  da.source = db.source AS same_source
        |FROM d
        |JOIN documents da ON da.doc_id = d.vec_a
        |JOIN documents db ON db.doc_id = d.vec_b
        |WHERE floor(dot * 1000000) >= 350000
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q69_salted_join" ->
      """WITH dim AS (SELECT DISTINCT user_id, CAST(user_id % 4 AS INTEGER) AS cohort FROM events)
        |SELECT cohort, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN dim USING (user_id)
        |GROUP BY cohort ORDER BY cohort""".stripMargin,
    "q55_cdc_apply" ->
      """WITH changes AS (
        |  SELECT c_custkey, 'DELETE' AS op,
        |    TIMESTAMP '2024-01-01' + c_custkey * INTERVAL 1 SECOND AS ts,
        |    CAST(NULL AS VARCHAR) AS c_name, CAST(NULL AS INTEGER) AS c_nationkey,
        |    CAST(NULL AS DOUBLE) AS c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 3
        |  UNION ALL
        |  SELECT c_custkey, 'UPDATE',
        |    TIMESTAMP '2024-01-01' + c_custkey * INTERVAL 1 SECOND,
        |    c_name, c_nationkey, c_acctbal + 100.0, c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 4
        |  UNION ALL
        |  SELECT c_custkey, 'UPDATE',
        |    TIMESTAMP '2024-01-01' + INTERVAL 1 DAY + c_custkey * INTERVAL 1 SECOND,
        |    c_name, c_nationkey, c_acctbal + 200.0, 'REVISED'
        |  FROM customer WHERE c_custkey % 20 = 4
        |  UNION ALL
        |  SELECT c_custkey + 10000000, 'INSERT', TIMESTAMP '2024-01-01',
        |    'NEW#' || CAST(c_custkey AS VARCHAR), c_nationkey, c_acctbal, 'FRESH'
        |  FROM customer WHERE c_custkey % 10 = 5
        |), lastc AS (
        |  SELECT * FROM (
        |    SELECT c.*, row_number() OVER (PARTITION BY c_custkey ORDER BY ts DESC, op DESC) AS rn
        |    FROM changes c) WHERE rn = 1)
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM lastc)
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM lastc
        |WHERE op <> 'DELETE'
        |ORDER BY c_custkey""".stripMargin)
}
