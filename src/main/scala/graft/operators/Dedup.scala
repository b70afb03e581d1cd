package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY §2.9 L1):
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard verification.
  *
  * Design for 100 TB:
  *  - exact dedup is one hash-partitioned groupBy on the dedup key (or its
  *    md5 fingerprint, which also evens out key-length skew);
  *  - MinHash/LSH is the linear-cost fuzzy path: shingle → per-band min-hash
  *    (map-side combinable agg) → candidate pairs only where a band bucket
  *    collides (the quadratic blowup is confined to same-bucket groups) →
  *    Jaccard verification on the candidates only;
  *  - hashes are md5-based (not Spark's murmur `hash()`) so any engine —
  *    including the DuckDB oracle — reproduces identical signatures.
  */
object Dedup {

  /** Exact dedup: one representative (min id) per distinct key + group size.
    * groupBy, not dropDuplicates, so the representative is deterministic. */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("representative_id"), count(lit(1)).as("n_dups"))

  /** Column form of the shingle derivation: the word n-gram shingle ARRAY
    * of one text value (with multiplicity; empty — never bogus — for texts
    * shorter than `n` tokens, hence the `when` guard: sequence() steps DOWN
    * on an empty range, the recurring bigramLm lesson). Lets fused per-row
    * pipelines ([[graft.streaming.IngestCuration]]'s lexical gate) derive
    * shingles inside an existing projection instead of routing through the
    * exploded relation. [[shingles]] is defined as `explode(shingleArray)`,
    * so the two shapes cannot drift; DedupSpec additionally pins the
    * exploded form against a hand-computed oracle. */
  def shingleArray(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-gram shingles via array slicing — per-row, shuffle-free (beats a
    * lead()-window implementation, which would shuffle by doc at scale).
    * Documents shorter than `n` tokens produce no shingles: [[shingleArray]]
    * yields an empty array there and `explode` drops it, so this is exactly
    * `explode(shingleArray)` — one derivation, two shapes. */
  def shingles(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id", n: Int = 3): DataFrame =
    docs.select(col(idCol), explode(shingleArray(col(textCol), n)).as("shingle"))

  /** MinHash signature per (doc, band): each shingle is md5'd ONCE and the
    * 32-hex digest is sliced into `bands` disjoint 8-hex (32-bit) band
    * hashes — 4× fewer digest computations than band-salted hashing, same
    * independence in practice. Partial+final min-agg ⇒ map-side combine. */
  def minhashSignatures(shingleDf: DataFrame, bands: Int,
                        idCol: String = "doc_id"): DataFrame = {
    require(bands >= 1 && bands <= 4, "bands must be 1..4 (32 hex chars / 8)")
    shingleDf
      .withColumn("mh", md5(col("shingle")))
      .withColumn("band", explode(lit((0 until bands).toArray)))
      .groupBy(col(idCol), col("band"))
      .agg(min(expr("substring(mh, band * 8 + 1, 8)")).as("minhash"))
  }

  /** LSH candidate pairs: docs sharing any (band, minhash) bucket. The
    * self-join is per-bucket, so cost is Σ bucket² not n². */
  def lshCandidates(sigs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val a = sigs.select(col("band"), col("minhash"), col(idCol).as("doc_a"))
    val b = sigs.select(col("band"), col("minhash"), col(idCol).as("doc_b"))
    a.join(b, Seq("band", "minhash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** LSH candidate pairs with a MEGA-BUCKET CAP — the 100 TB guard on
    * [[lshCandidates]]'s Σ bucket² cost. A (band, minhash) bucket of n docs
    * contributes n(n-1)/2 pairs; boilerplate-heavy corpora grow a few
    * buckets WITH the corpus (every doc sharing a license header / nav bar
    * minhashes together), so Σ n² turns quadratic while the corpus grows
    * linearly — the one superlinear trend in this battery's scale slopes.
    *
    * The cap routes, not drops: a bucket larger than `maxBucketDocs` is
    * itself a boilerplate SIGNAL, not a near-dup verdict — pairing its
    * members is meaningless (they share a template, not content), so they
    * are returned separately for the boilerplate detector
    * ([[TextAnalysis.boilerplateChunks]]-style handling) instead of the
    * pairwise pipeline. Recall on TRUE near-dups is preserved by band
    * redundancy: a genuine near-dup pair shares most of its `bands` buckets,
    * and only buckets that are themselves mega get skipped — the pair
    * survives through any under-cap shared band (measured in DedupSpec and
    * ScaleBench's recall column).
    *
    * Returns (pairs from under-cap buckets, mega-bucket membership rows
    * `(band, minhash, n_docs, idCol)`). Sizing: the bucket-size histogram is
    * one partial-agg'd groupBy; the anti-join's mega side is tiny by
    * construction (it lists only the outliers), so AQE broadcasts it. */
  def lshCandidatesCapped(sigs: DataFrame, maxBucketDocs: Int,
                          idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    require(maxBucketDocs >= 2, "a cap under 2 would drop every pair")
    val mega = sigs.groupBy(col("band"), col("minhash"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucketDocs)
    val capped = sigs.join(mega.select(col("band"), col("minhash")),
      Seq("band", "minhash"), "left_anti")
    val megaMembers = sigs.join(mega, Seq("band", "minhash"))
      .select(col("band"), col("minhash"), col("n_docs"), col(idCol))
    (lshCandidates(capped, idCol), megaMembers)
  }

  /** Rare-shingle candidate pairs — the blocking step for CONTAINMENT
    * dedup: pairs sharing at least one shingle whose corpus document
    * frequency is ≤ `maxDf`. MinHash-LSH candidates approximate JACCARD,
    * so a doc quoted inside a much larger one (containment ≈ 1, Jaccard ≈
    * |A|/|B| → 0) systematically misses its buckets; rare-shingle blocking
    * is the standard bounded generator for that shape.
    *
    * Scale: the per-shingle self-join costs Σ_rare df², and df ≤ maxDf
    * bounds it by maxDf · |rare postings| — linear in the corpus, no
    * mega-bucket blowup BY CONSTRUCTION (a shingle over the cap is
    * excluded, the same move as [[lshCandidatesCapped]]'s).
    *
    * Honest recall bound: a pair EVERY shared shingle of which is
    * corpus-common (df > maxDf) is not generated. Those shared strings are
    * boilerplate by definition — the recurring-chunk operator (q82) is the
    * instrument for them; this one exists for pair-local duplication. */
  def rareShingleCandidates(shingleDf: DataFrame, maxDf: Int,
                            idCol: String = "doc_id",
                            preDistincted: Boolean = false): DataFrame =
    rareCandidatesFromPostings(
      rarePostings(shingleDf, maxDf, idCol, preDistincted), idCol)

  /** The rare-postings relation [[rareShingleCandidates]] self-joins:
    * (shingle, doc) restricted to shingles with corpus df ≤ `maxDf`.
    * Split out so a pipeline can persist it as a staging table — the
    * self-join consumes it TWICE, and without persistence each side pays
    * the df aggregate + postings join again (ReuseExchange does not fire
    * across the sides' differing projections; the q113/r20 lesson). */
  def rarePostings(shingleDf: DataFrame, maxDf: Int,
                   idCol: String = "doc_id",
                   preDistincted: Boolean = false): DataFrame = {
    require(maxDf >= 2, "a cap under 2 would drop every pair")
    val base = shingleDf.select(col(idCol), col("shingle"))
    val dsh = if (preDistincted) base else base.distinct()
    // NOTE (r21): a one-pass collect_list + in-row pair expansion was
    // tried here (one shingle exchange instead of three) and MEASURED
    // SLOWER at sf0.1 (4.15 s vs 3.61 s on q113): the ObjectHashAggregate
    // ships every shingle's full posting list — including the mega
    // shingles the df filter later drops — where the count aggregate
    // ships one long, and the higher-order pair expansion runs outside
    // whole-stage codegen. The three-stage shape stays.
    val rare = dsh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("shingle"))
    dsh.join(rare, "shingle")
  }

  /** Self-join of a rare-postings relation into candidate pairs (a<b,
    * distinct). Cost Σ_rare df² ≤ maxDf · |postings| — see
    * [[rareShingleCandidates]]. */
  def rareCandidatesFromPostings(postings: DataFrame,
                                 idCol: String = "doc_id"): DataFrame =
    postings.select(col("shingle"), col(idCol).as("doc_a"))
      .join(postings.select(col("shingle"), col(idCol).as("doc_b")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()

  /** Asymmetric containment over distinct shingle sets, for candidate
    * pairs: [[jaccardVerify]]'s exact-integer counts plus the two directed
    * ratios cont(A→B) = |A∩B|/|A| (how much of A is inside B) and
    * cont(B→A), as deterministic floored ppm. cont ≥ jaccard always, and
    * the GAP between them is the quote/subset signal Jaccard flattens:
    * a 50-line license block pasted into a 5000-line doc scores
    * cont_a ≈ 1, jaccard ≈ 0.01. */
  def containmentVerify(pairs: DataFrame, shingleDf: DataFrame,
                        idCol: String = "doc_id",
                        preDistincted: Boolean = false,
                        sizesDf: Option[DataFrame] = None): DataFrame =
    jaccardVerify(pairs, shingleDf, idCol, preDistincted, sizesDf)
      .withColumn("cont_a_ppm",
        floor(col("n_inter") * lit(1000000.0) / col("size_a")).cast("long"))
      .withColumn("cont_b_ppm",
        floor(col("n_inter") * lit(1000000.0) / col("size_b")).cast("long"))

  /** Jaccard similarity over distinct shingle sets, for candidate pairs only.
    * Output is exact-integer intersection/union counts plus the ratio.
    * Pass `preDistincted = true` when `shingleDf` is already a set (e.g. a
    * persisted staging table) to skip the dedup shuffle; pass `sizesDf`
    * (idCol, set_size — the same aggregate as a persisted staging table,
    * e.g. SharedStages.shingleSetSizes) to skip recomputing the per-doc
    * set sizes, which this verify otherwise aggregates from the full
    * shingle relation TWICE (once per pair side); a `sizesDf` of any other
    * shape is refused. */
  def jaccardVerify(pairs: DataFrame, shingleDf: DataFrame,
                    idCol: String = "doc_id",
                    preDistincted: Boolean = false,
                    sizesDf: Option[DataFrame] = None): DataFrame = {
    sizesDf.foreach(s => require(
      s.columns.sorted.sameElements(Seq(idCol, "set_size").sorted),
      s"jaccardVerify: sizesDf must have exactly the columns ($idCol, set_size), " +
        s"got (${s.columns.mkString(", ")})"))
    val base = shingleDf.select(col(idCol), col("shingle"))
    val distinctSh = if (preDistincted) base else base.distinct()
    val sizes = sizesDf.getOrElse(
      distinctSh.groupBy(col(idCol)).agg(count(lit(1)).as("set_size")))
    // shingle is part of the second join KEY — joining on doc_b alone and
    // filtering afterwards would materialize |pairs|·|shingles_b| rows.
    // All joins stay shuffle joins deliberately: the candidate-pair list is
    // only bench-scale-small; at corpus scale it can be arbitrarily large,
    // and AQE converts any genuinely-small side to broadcast at runtime.
    val inter = pairs
      .join(distinctSh.select(col(idCol).as("doc_a"), col("shingle")), "doc_a")
      .join(distinctSh.select(col(idCol).as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col(idCol).as("doc_a"), col("set_size").as("size_a")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("set_size").as("size_b")), "doc_b")
      .withColumn("n_union", col("size_a") + col("size_b") - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
  }

  /** Connected-components clustering of candidate pairs — the terminal
    * dedup step: every document gets its cluster's minimum id as
    * representative (itself when it has no near-duplicates), so "keep one
    * per cluster" is a filter on `doc == cluster_rep`.
    *
    * Alternating large-star / small-star contraction — the standard
    * shared-nothing CC algorithm from the MapReduce literature (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", 2014), chosen
    * over plain BSP min-label propagation for its ROUND BOUND. Plain
    * propagation needs diameter rounds, and near-dup graphs grow long
    * chains organically (A≈B≈C≈… drift): the sf0.1 embedding pair graph
    * already carries a 20-round chain, and min-label + label-chasing
    * ("pointer jumping" on labels) does NOT repair this — the chased min
    * lands on an arbitrary far node, so reach compounds like √diameter on
    * shuffled-id chains, and a 10⁴-node chain still blows any sane round
    * cap. Star contraction instead rewrites the EDGE list: each round
    * every node hangs its larger (large-star) then its smaller
    * (small-star) neighbors under its neighborhood minimum, provably
    * converging to per-component stars in O(log² n) rounds (tens for any
    * realistic graph; the ScaleBench chain regime measures it).
    *
    * Each round shuffles only the edge relation (grouped by node, joined
    * back, distinct'd); there is no driver-side graph, and lineage is
    * truncated per round by a lazy localCheckpoint materialized by the
    * convergence check. Convergence = the canonical (child, parent) edge
    * set is UNCHANGED by a full large+small alternation (an exact
    * symmetric-difference test, not a heuristic); the fixpoint is a star
    * per component rooted at its minimum id, so labels read directly off
    * the final edges. All operators are min-based — the result is
    * deterministic under any partitioning and replayable by the oracle's
    * recursive CTE. maxIter is a pure backstop and hitting it UNCONVERGED
    * throws: truncated edges are not components, and a wrong answer must
    * never leave this operator silently. */
  def clusterPairs(allDocs: DataFrame, pairs: DataFrame,
                   idCol: String = "doc_id", maxIter: Int = 50): DataFrame =
    clusterPairsWithRounds(allDocs, pairs, idCol, maxIter)._1

  /** [[clusterPairs]] plus the confirmed-convergence round count — the
    * ScaleBench cluster-chain regime reads it to evidence the O(log²)
    * claim; production callers use [[clusterPairs]]. */
  private[graft] def clusterPairsWithRounds(
      allDocs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIter: Int = 50): (DataFrame, Int) = {
    import org.apache.spark.rdd.RDD

    // The ITERATION runs on RDD[(Long, Long)], not DataFrames — the one
    // place in this engine where the RDD API earns its keep: the loop body
    // is re-planned from scratch every round under Catalyst (analysis +
    // optimization + codegen per job), and on the KB-sized edge relations
    // a near-dup graph actually carries, that fixed driver cost dominated
    // wall time by ~10× over the data (q88 measured 3.96 s for 6 rounds
    // over 1956 edges; the RDD loop runs the identical algebra in well
    // under a second). Everything stays min-based and shuffle-equivalent:
    // reduceByKey(min) is the map-side-combined groupBy, the partitioner
    // fans out by edge count exactly as a shuffle would, and the operator's
    // DataFrame contract (labels in, labels out) is unchanged.
    val partitions = (n: Long) => math.max(1,
      math.min(pairs.sparkSession.sparkContext.defaultParallelism,
        (n / 50000L).toInt))

    // one large- or small-star step over canonical (c=child > p=parent)
    // edges: hang each node's larger (large) / smaller-or-equal (small)
    // neighbors under m(u) = min(neighborhood(u) ∪ {u})
    def star(e: RDD[(Long, Long)], large: Boolean, parts: Int): RDD[(Long, Long)] = {
      val nbr = e.flatMap { case (c, p) => Iterator((c, p), (p, c)) }
      val mTab = nbr.reduceByKey(math.min(_: Long, _: Long), parts)
        .map { case (u, mv) => (u, math.min(mv, u)) }
      val joined = nbr.join(mTab, parts)
      val emitted =
        if (large)
          joined.flatMap { case (u, (v, m)) => if (v > u) Iterator((v, m)) else Iterator.empty }
        else
          joined.flatMap { case (u, (v, m)) => if (v < u) Iterator((v, m)) else Iterator.empty }
            .union(mTab.map { case (u, m) => (u, m) })
      emitted.filter { case (c, p) => c != p }.distinct(parts)
    }

    // one aggregate per round doubles as the cache-materializing action AND
    // a convergence prefilter: different (count, Σc, Σp) proves the set
    // changed without the symmetric-difference pass; the exact diff runs
    // only to CONFIRM a suspected fixpoint (sums can collide, correctness
    // never rests on them)
    def edgeStats(e: RDD[(Long, Long)]): (Long, Long, Long) =
      e.aggregate((0L, 0L, 0L))(
        { case ((n, sc, sp), (c, p)) => (n + 1, sc + c, sp + p) },
        { case ((n1, s1, p1), (n2, s2, p2)) => (n1 + n2, s1 + s2, p1 + p2) })

    var edges = pairs.select(
        greatest(col("doc_a"), col("doc_b")).cast("long").as("c"),
        least(col("doc_a"), col("doc_b")).cast("long").as("p"))
      .distinct()
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (c, p) => c != p }
      .localCheckpoint() // MEMORY_AND_DISK + lineage truncation at first action
    var stats = edgeStats(edges)
    val parts = partitions(stats._1)
    // the converted edge RDD inherits the session's shuffle partitioning
    // (32 under the bench shape) while the loop's own data-derived count
    // is usually 1 — every round's flatMap/union then ran dozens of
    // near-empty tasks per op (the r21 scaling block showed q65 3× faster
    // at 8 cores for exactly this reason). Narrow coalesce once, up
    // front; rounds then run at the edge-count-derived width.
    if (edges.getNumPartitions > parts) edges = edges.coalesce(parts)
    var converged = stats._1 == 0
    var i = 0
    while (!converged && i < maxIter) {
      val prev = edges
      val prevStats = stats
      // localCheckpoint, not bare persist: the stats action below
      // materializes the blocks AND truncates lineage at this round, so a
      // late round never chains recomputation (or serialized plan depth)
      // through every prior round. The trade is the standard one: an
      // evicted checkpointed block fails the job instead of recomputing —
      // MEMORY_AND_DISK spills rather than evicts, the engine-wide
      // localCheckpoint(true) discipline.
      val next = star(star(edges, large = true, parts), large = false, parts)
        .localCheckpoint()
      stats = edgeStats(next)
      // exact symmetric difference: both sides are distinct sets, so a
      // (c, p) appearing once across the union changed this round
      converged = stats == prevStats &&
        next.union(prev).map((_, 1)).reduceByKey(_ + _, parts)
          .filter(_._2 == 1).isEmpty()
      edges = next
      i += 1
      // a superseded round's cache blocks are dead weight — release once
      // the replacing round is materialized (the stats action above); only
      // the FINAL edges stay cached for the label read below
      prev.unpersist(blocking = false)
    }
    if (!converged)
      throw new IllegalStateException(
        s"clusterPairs did not converge within maxIter=$maxIter rounds — " +
          "edges would be truncated, not connected components; raise maxIter")
    // at the star fixpoint every child carries exactly one edge, to its
    // component root (its minimum id); the min-agg is belt and braces
    val spark = pairs.sparkSession
    import spark.implicits._
    val roots = edges.reduceByKey(math.min(_: Long, _: Long), parts).toDF(idCol, "__root")
    val labels = allDocs
      .select(col(idCol))
      .join(roots, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__root"), col(idCol).cast("long")).as("cluster_rep"))
    (labels, i)
  }

  /** 16-bit SimHash from md5 nibbles: each token contributes ±1 per bit
    * position (bits 0..15 = first 4 hex chars of md5(token)); the signature
    * bit is 1 where the sum is positive. Integer-only arithmetic ⇒ portable
    * across engines.
    *
    * Shape: the 16 bit sums are 16 aggregate COLUMNS of one
    * groupBy(doc) — partial aggregation reduces each task's tokens to one
    * 16-long buffer per document before the only shuffle. (The obvious
    * alternative, exploding a bitpos dimension, multiplies the shuffled
    * rows ×16; measured ~2× slower at sf0.1 and strictly worse at scale.) */
  def simhash16(docs: DataFrame, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val toks = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .withColumn("h4", substring(md5(col("tok")), 1, 4))
    val bitSums = (0 until 16).map { b =>
      val nibble = s"(instr('0123456789abcdef', substring(h4, ${b / 4 + 1}, 1)) - 1)"
      sum(expr(s"case when ($nibble & ${1 << (b % 4)}) != 0 then 1 else -1 end"))
        .as(s"s$b")
    }
    toks.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until 16).map(b =>
          when(col(s"s$b") > 0, lit(1 << b)).otherwise(lit(0)))
          .reduce(_ + _).cast("int").as("simhash"))
  }
}
