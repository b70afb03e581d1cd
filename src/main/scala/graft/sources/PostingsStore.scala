package graft.sources

import graft.operators.{Retrieval, TextAnalysis}
import graft.queue.VersionedDir
import graft.streaming.{IncrementalContainment, RegistryIO}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Persisted inverted index (postings store) — the SPARSE serving twin of
  * [[IvfIndexStore]]: [[graft.operators.Retrieval.bm25TopK]] must
  * re-tokenize the corpus on every query (fine inside one job; useless as
  * a serving artifact), while here the build cost is paid once and a
  * query's read is bounded by the LAYOUT. EXT surface: the reference has
  * no retrieval (its core is CDC/webhook plumbing —
  * `/root/reference/src/cdc_webhook.c:153`).
  *
  * Layout (the occurrence-registry discipline of
  * [[graft.streaming.IncrementalContainment]], carried over terms):
  *
  *   - `ingest_batch=N/tbucket=B/tier=T/` — postings
  *     `(tok, doc_id, tf, dl, positions)`, one row per distinct
  *     (document, term) with the term's DELTA-ENCODED in-document token
  *     offsets (the phrase-serving substrate — [[phraseTopK]] verifies
  *     adjacency from them at serve time; BM25 probes never select the
  *     column, so parquet column pruning keeps it off the scoring path),
  *     hive-partitioned by the term fingerprint's first hex byte (256
  *     buckets) and an IMPACT TIER under the batch. Tier 0 (head) holds,
  *     per term per batch, the `headSize` postings of highest static
  *     impact ([[simpactQ]] — integer-exact, so an oracle replays the cut
  *     bit-for-bit); tier 1 (tail) holds the rest, so a term is tailed
  *     only when its in-batch df exceeds `headSize`. Files are SORTED by
  *     `(tok, doc_id)` so a pushed `In(tok, …)` prunes at ROW-GROUP level
  *     on footer stats (no parquet bloom filters, for the measured reasons
  *     on `IncrementalContainment.writeOccurrences`), and WITHIN a term's
  *     run a pushed `In(doc_id, …)` prunes the same way — the WAND
  *     candidate fetch's bound ([[bm25TopKWand]]). The document's token
  *     count `dl` is DENORMALIZED onto every posting — BM25's length
  *     normalization needs no corpus-sized doc-length join at serve time.
  *   - `_termmeta/ingest_batch=N/tbucket=B/` — one
  *     `(tok, df, tail_max_tf, tail_min_dl)` row per distinct term in the
  *     batch, key-sorted like the postings. df is what makes the TIERED
  *     serve ([[bm25TopKPruned]]) honest: it stays EXACT even when only
  *     the head tier is read (df counted from a truncated probe would
  *     silently inflate every idf). The tail columns are the per-(term,
  *     batch) MAX-SCORE CERTIFICATES: max tf / min dl over the tier-1
  *     postings (null when untailed) — `contrib(tail_max_tf, tail_min_dl)`
  *     at serve-time (df, N, avgdl) upper-bounds every tail contribution,
  *     which is what lets [[bm25TopKWand]] prove a tail needs no opening.
  *     O(vocab) rows — metadata-scale beside the postings.
  *   - `_blockmeta/ingest_batch=N/tbucket=B/` — one
  *     `(tok, blk_lo, blk_hi, blk_max_tf, blk_min_dl)` row per
  *     [[TailBlockSize]]-posting BLOCK of a term's doc_id-sorted tail:
  *     the block-max refinement of the `_termmeta` certificate
  *     ([[bm25TopKWand]] keys a candidate doc's tail bound to its OWN
  *     block — or to a proof of absence when no block covers its id —
  *     so one outlier posting cannot poison a whole tail's bound).
  *     O(tail/64) rows, never driver-collected (the serve range-joins
  *     it against the broadcast head summary). Recomputed wherever
  *     `_termmeta` is (append, erase, both compactions); a batch with
  *     tails but no block rows (pre-gen-4) falls back to the per-batch
  *     certificate — conservative, never wrong.
  *   - `_docidx/ingest_batch=N/dbucket=D/` — one `(doc_id, tbuckets)` row
  *     per ingested document, hive-partitioned by `doc_id mod 256` and
  *     sorted by `doc_id`, recording which term buckets carry the doc's
  *     postings. Erasure's locate resolves here in O(touched leaves) —
  *     dbucket partition filter + pushed `In(doc_id)` — instead of the
  *     full-store scan the pre-r18 layout paid, and appends consult it as
  *     the cross-batch duplicate tripwire (contract below).
  *   - `_stats/ingest_batch=N/` — ONE `(n_docs, total_len)` row per
  *     batch (underscore-prefixed: invisible to postings scans). Serving
  *     sums this KB-scale relation for N and avgdl; a replayed batch
  *     OVERWRITES its own row, so corpus stats are derived state that
  *     cannot drift — the
  *     [[graft.streaming.IncrementalQualityCut]] rollup rule.
  *   - `_compacted_through` — highest batch id folded by [[compact]];
  *     [[appendBatch]] REFUSES a batch at or below it (loud, not a
  *     silent double count — see the compaction contract below).
  *   - `_folded` — the batch ids [[compactLevel]] has folded (a leveled
  *     fold picks the SMALLEST batches, not a prefix, so refusal needs
  *     the explicit set); same replay semantics as the watermark.
  *   - `_format` — the layout-generation marker: created only on an
  *     empty root and required before any append to a non-empty one, so
  *     its presence PROVES every batch carries positions + blockmeta
  *     ([[phraseTopK]]'s guard is one file-existence check, not a
  *     per-serve null scan).
  *   - `_log/<N>` + `v<N>-<hex>/` — the [[graft.queue.VersionedDir]]
  *     layer [[compact]] and [[compactLevel]] commit through: a fold
  *     builds the ENTIRE next layout into a stage dir and commits it as
  *     the next snapshot. Every public face resolves ONCE per call and
  *     stays on that snapshot, so a fold mid-query is whole-old or
  *     whole-new, never a mix. A root with no manifest is the flat layout
  *     and resolves to itself. Unlike the IVF store's rebuild snapshots,
  *     a postings version is a LIVE tree — appends and erasures mutate
  *     the current version in place; the manifest isolates only the fold.
  *
  * EXACT serving ([[bm25TopK]], [[bm25TopKBatch]]) reads both tiers:
  * per-term document frequency is counted from the probed postings
  * themselves — exact under append, erasure, and compaction, with nothing
  * to reconcile. TIERED serving ([[bm25TopKPruned]]) reads tier 0 only
  * with df from `_termmeta`: a corpus-common query term ("the", df ≈
  * corpus) costs O(headSize · batches) postings instead of O(df) — the
  * impact-ordered-postings answer to the stop-word serving problem, with
  * its recall vs the exact scorer published in SCALE.md (the
  * ivfpq_recall discipline: approximation is opt-in and measured, never
  * silent).
  *
  * Why this is the 100 TB shape: a query for `t` terms reads
  * ≤ `t` of 256 term buckets (partition filter) and, within them,
  * row groups whose sorted key range covers a query term (pushed In) —
  * I/O is O(matched postings + footers), never the corpus; the tiered
  * serve caps even the matched-postings term at O(headSize · batches).
  * Stats is one KB-scale scan. The only corpus-keyed shuffle in serving
  * is the per-document sum over the postings actually read. [[compact]]
  * bounds the footer tier (batches fold into one) and re-tiers globally,
  * so a long-lived store's head is the corpus-wide impact cut, not the
  * union of per-batch cuts; [[compactLevel]] is its INCREMENTAL face —
  * fold only the smallest batches, link the rest — so the batch-count
  * bound holds under unbounded streaming ingest at O(folded bytes) per
  * fold instead of O(store).
  *
  * Replay/maintenance contract: [[appendBatch]] is idempotent (a
  * replayed micro-batch overwrites its own `ingest_batch=N` subtree, its
  * `_termmeta`/`_docidx` partitions, and its `_stats` row). Cross-batch
  * doc-id uniqueness is an explicit caller contract: a doc_id may appear
  * in at most ONE batch id (re-emitting an updated document under a new
  * batch would double-count its postings into df, the corpus stats, and
  * every bm25 sum). [[appendBatch]] enforces it with a `_docidx`
  * anti-probe and REFUSES loudly on violation (`checkDupIds = false`
  * skips the probe for callers with an upstream uniqueness guarantee).
  * A batch folded by [[compact]] is refused on replay rather than
  * double-counted — compaction inside a live `foreachBatch` is safe only
  * AFTER the sink's checkpoint commits, so [[sink]]'s `compactEvery`
  * documents that the post-crash replay of a just-compacted batch fails
  * loudly for the operator to resolve (the store itself is intact and
  * correct). A batch's `_stats` row is its COMMIT RECORD ([[writeBatch]]
  * writes it last): serving restricts every scan to the committed batch
  * set, so an in-flight or torn append (postings written, crash before
  * stats) is INVISIBLE — readers racing a live append serve the
  * committed prefix consistently, and the stream's replay lands the
  * batch (healed, never an error mid-append and never a silent
  * under-count). Only [[compact]] demands set equality: the maintainer
  * must see a complete store, and refuses a torn one loudly.
  *
  * Crash-window discipline (every window is HEALED or LOUD, never a
  * silent wrong answer):
  *
  *   - the leaf swaps share `replaceDir`'s one non-atomic window; every
  *     public face heals the root aside on entry (`Maintenance
  *     .healAside`), and a crashed erase's leaf/stats asides heal in its
  *     recovery pass; the whole-store fold has NO such window — its
  *     [[graft.queue.VersionedDir]] commit is one exclusive link;
  *   - [[deleteDocs]] stages the `_erase_inflight` intent marker (ids +
  *     touched leaves) BEFORE any mutation, then appends the `_erased/`
  *     tombstones, then rewrites; serving and compaction REFUSE while the
  *     marker exists, and the next [[deleteDocs]] call COMPLETES the
  *     recorded erase first — re-appending the tombstones from the marker
  *     (duplicates are absorbed by the reader's distinct), healing
  *     asides, replaying the leaf rewrites, and recomputing the touched
  *     batches' stats and termmeta rows from their surviving postings
  *     (exact by construction, so a crash between a batch's leaf rewrites
  *     and its stats rewrite can never leave drifted corpus stats). With
  *     the marker written first, every crash window is recoverable from
  *     the marker alone: there is no instant where tombstones exist
  *     without a marker or a rewrite ran without tombstones recorded;
  *   - erased ids land in a `_erased/` TOMBSTONE registry consulted by
  *     every append: an upstream replay of a pre-erase batch re-registers
  *     only the survivors, so a checkpoint replay cannot resurrect a
  *     takedown. This is deliberately stronger than the dedup
  *     registries' "novel again" erase semantics
  *     ([[graft.streaming.IncrementalContainment.deleteDocs]]): a
  *     SERVING store must not let a replay undo a legal takedown, so
  *     the tombstones filter every future append until the takedown is
  *     lifted by clearing `_erased/`. The tombstone set is
  *     takedown-request-sized by contract, broadcast-joined at append.
  */
object PostingsStore {

  /** Head-tier size: per term per batch, the top `DefaultHeadSize`
    * postings by static impact live in tier 0. Sized so DISCRIMINATIVE
    * terms (df ≤ headSize) serve exactly from the head while corpus
    * stop words are capped — 256 keeps the battery's rare "dup" family
    * fully head at every SF and still cuts "the" ~15× at the bench
    * corpus; SCALE.md's headSize-vs-recall table (64/128/256/512 at 1×
    * and 10× df) is the measured sizing evidence — recall@10 is nearly
    * INSENSITIVE to the head size there (the tiered loss is boundary
    * reorder, not head starvation), so what the default actually buys
    * is the df ≤ headSize EXACTNESS class that q130's oracle leans on,
    * at ~KiB head bytes. The measured price of TIERED serving
    * (SCALE.md `tiered_serve`): when a query MIXES a discriminative term
    * with a stop word whose per-doc contribution rivals the score gaps
    * near the top-k cut line, head-only serving reorders the boundary —
    * the structural limit of impact-ordered tiers ALONE; single-term
    * queries with df ≤ headSize serve exactly by construction, the
    * oracle gates the cut itself, and when exactness is required
    * [[bm25TopKWand]] buys it back at near-tiered cost through the
    * `_termmeta` certificates. Production would size the head to
    * max(expected discriminative df per batch, serving k budget). */
  val DefaultHeadSize: Int = 256

  private val postingsSchema: StructType = StructType.fromDDL(
    "tok STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, " +
      "positions ARRAY<BIGINT>, ingest_batch BIGINT, tbucket INT, tier INT")

  private val statsSchema: StructType = StructType.fromDDL(
    "n_docs BIGINT, total_len BIGINT, ingest_batch BIGINT")

  private val termMetaSchema: StructType = StructType.fromDDL(
    "tok STRING, df BIGINT, tail_max_tf BIGINT, tail_min_dl BIGINT, " +
      "ingest_batch BIGINT, tbucket INT")

  private val docIdxSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, tbuckets ARRAY<INT>, ingest_batch BIGINT, dbucket INT")

  private val blockMetaSchema: StructType = StructType.fromDDL(
    "tok STRING, blk_lo BIGINT, blk_hi BIGINT, blk_max_tf BIGINT, " +
      "blk_min_dl BIGINT, ingest_batch BIGINT, tbucket INT")

  /** Tail postings per `_blockmeta` block: within a (term, batch), the
    * tier-1 postings sort by doc_id and chunk into runs of this many rows,
    * each contributing one (blk_lo, blk_hi, max tf, min dl) certificate —
    * the BLOCK-MAX refinement of the per-batch tail certificate: a single
    * outlier posting (one huge tf in a stop word's tail) poisons only its
    * own block's bound, not the whole tail's, so [[bm25TopKWand]]'s
    * candidate cut excludes the documents the outlier has nothing to do
    * with. 64 keeps the sidecar at tail/64 rows (never driver-collected —
    * the serve range-joins it against the broadcast head summary). */
  private[sources] val TailBlockSize: Int = 64

  /** Term bucket: first hex byte of md5(tok), 0..255 — a pure function
    * of the probe key, so pruning never drops a match (the
    * [[graft.streaming.IncrementalContainment]] bucketing). */
  private def bucketCol(tok: Column): Column =
    conv(substring(md5(tok), 1, 2), 16, 10).cast("int")

  /** Driver-side twin of [[bucketCol]] for query terms. */
  private[graft] def bucketOf(term: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d(0) & 0xff
  }

  /** Doc bucket for the `_docidx` sidecar: `doc_id mod 256` — a pure
    * function of the erase request's ids, so the locate's partition
    * pruning never drops a row. */
  private def dbucketCol(docId: Column): Column = pmod(docId, lit(256)).cast("int")

  private[sources] def dbucketOf(id: Long): Int = (((id % 256) + 256) % 256).toInt

  /** Static impact of one posting, integer-exact: the BM25 tf-saturation
    * factor at the default (k1 = 1.2, b = 0.75) and a fixed reference
    * avgdl of 100 — `tf / (tf + k1(1−b) + k1·b·dl/100)`, scaled to parts
    * per billion with exact long arithmetic:
    * `tf·10⁹ div (1000·tf + 300 + 9·dl)`. Monotone up in tf and down in
    * dl like the true serve-time contribution; a DETERMINISTIC proxy for
    * it, not a replica (the true factor needs the serve-time avgdl, which
    * appends move) — correctness never depends on the ordering, only the
    * head tier's RECALL does, and the cut replays bit-for-bit in any
    * engine (q130's oracle does). Ties break (tf desc, dl asc, doc_id
    * asc) — total, because (doc, term) is unique. */
  private[sources] def simpactQ: Column =
    expr("tf * 1000000000L div (1000L * tf + 300L + 9L * dl)")

  private def tierCol(headSize: Int): Column = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("tok")).orderBy(
      simpactQ.desc, col("tf").desc, col("dl").asc, col("doc_id").asc)
    when(row_number().over(w) <= headSize, lit(0)).otherwise(lit(1))
  }

  /** [[tierCol]] with a PER-TERM capacity column instead of one constant —
    * the erase path's refill cut: each term's head refills to its ORIGINAL
    * head capacity (`capCol` = the batch's pre-erase tier-0 count, which is
    * min(df, headSize) by construction), so re-tiering at erase needs no
    * headSize parameter and lands EXACTLY the fresh-build cut over the
    * survivors: min(surviving df, headSize). */
  private def tierColCapped(capCol: Column): Column = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("tok")).orderBy(
      simpactQ.desc, col("tf").desc, col("dl").asc, col("doc_id").asc)
    when(row_number().over(w) <= capCol, lit(0)).otherwise(lit(1))
  }

  /** Token positions, DELTA-ENCODED for the posting lists: ascending
    * absolute 0-based offsets in, `[p0, p1-p0, p2-p1, …]` out — the
    * standard posting-list gap encoding (small positive ints compress far
    * better under parquet's integer encodings than raw offsets, and the
    * decode is a per-posting prefix sum bounded by tf). */
  private def deltaEncode(ps: Column): Column =
    transform(ps, (p, i) => when(i === 0, p).otherwise(p - element_at(ps, i)))

  /** Inverse of [[deltaEncode]]: gaps back to ascending absolute offsets —
    * a running sum over ≤ tf elements per posting. */
  private[sources] def decodePositions(deltas: Column): Column = {
    val zero = struct(lit(0L).as("last"),
      array().cast("array<bigint>").as("arr"))
    aggregate(deltas, zero,
      (acc, x) => struct((acc.getField("last") + x).as("last"),
        array_append(acc.getField("arr"), acc.getField("last") + x).as("arr")),
      acc => acc.getField("arr"))
  }

  /** One batch's `_termmeta` rows from its TIERED postings: the exact df
    * plus the tail BOUND CERTIFICATES ([[bm25TopKWand]]'s substrate) —
    * max tf and min dl over the tier-1 postings, null when the term has
    * no tail. The BM25 contribution is monotone UP in tf and DOWN in dl,
    * so `contrib(tail_max_tf, tail_min_dl)` evaluated at the serve-time
    * (df, N, avgdl) upper-bounds every tail posting's contribution —
    * a valid max-score certificate no matter how appends move avgdl. */
  private def termMetaFor(tiered: DataFrame): DataFrame =
    tiered.groupBy(col("tok")).agg(
      count(lit(1)).as("df"),
      max(when(col("tier") === 1, col("tf"))).as("tail_max_tf"),
      min(when(col("tier") === 1, col("dl"))).as("tail_min_dl"))

  /** One batch's `_blockmeta` rows from its tiered postings: per (term,
    * [[TailBlockSize]]-row block of the doc_id-sorted tail), the block's
    * id range and its max-score certificate inputs (max tf, min dl) — the
    * per-block refinement of [[termMetaFor]]'s per-batch tail bound.
    * Blocks partition the tail COMPLETELY (every tier-1 posting falls in
    * exactly one block), which is what makes "no block covers doc d" a
    * PROOF that d has no tail posting for the term — the strongest bound
    * of all (zero), and the one the outlier-adversary spec leans on. */
  private def blockMetaFor(tiered: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("tok")).orderBy(col("doc_id"))
    tiered.filter(col("tier") === 1)
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
      .withColumn("blk",
        ((row_number().over(w) - 1) / lit(TailBlockSize)).cast("long"))
      .groupBy(col("tok"), col("blk"))
      .agg(min(col("doc_id")).as("blk_lo"), max(col("doc_id")).as("blk_hi"),
        max(col("tf")).as("blk_max_tf"), min(col("dl")).as("blk_min_dl"))
      .drop("blk")
  }

  /** On-disk format generation this writer produces: 4 = delta-encoded
    * positions + `_termmeta` tail certificates + `_blockmeta` block-max
    * sidecar + the `_format` marker itself. The marker is the
    * LAYOUT-TRUST contract: it exists iff EVERY batch in the store was
    * written by a gen-4 writer ([[writeBatch]] creates it only on a
    * fresh root and REFUSES to append to a marker-less non-empty store),
    * so [[phraseTopK]] can trust the positions column without scanning
    * for nulls (the r19 guard paid a full probe pass on every serve) and
    * a pre-positions store is refused loudly instead of serving silently
    * empty adjacency. */
  private val FormatGen = 4
  private val FormatMarker = "_format"

  private def hasFormatMarker(root: String): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(root.stripSuffix("/"), FormatMarker))

  /** The leveled-compaction fold registry: batch ids folded by
    * [[compactLevel]] (one id per line). Unlike [[compact]]'s single
    * watermark, a leveled fold picks the SMALLEST batches — not a prefix —
    * so replay refusal needs the explicit set. */
  private val FoldedMarker = "_folded"

  private def foldedBatches(root: String): Set[Long] = {
    val m = java.nio.file.Paths.get(root.stripSuffix("/"), FoldedMarker)
    if (!java.nio.file.Files.exists(m)) Set.empty
    else new String(java.nio.file.Files.readAllBytes(m),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).map(_.toLong).toSet
  }

  /** Bulk build — batch -1 of the layout [[appendBatch]] appends into
    * (streaming batch ids start at 0, the [[IvfIndexStore.build]]
    * convention), so no append can collide with it. Fresh roots only. */
  def build(docs: DataFrame, dir: String,
            idCol: String = "doc_id", textCol: String = "text",
            headSize: Int = DefaultHeadSize): Unit = {
    require(VersionedDir.resolve(java.nio.file.Paths.get(dir)).version == 0L &&
      !RegistryIO.hasData(dir, Some("ingest_batch=")),
      s"postings store at $dir already has data - append or compact instead")
    writeBatch(docs, dir, -1L, idCol, textCol, headSize)
  }

  /** One micro-batch append: postings under
    * `ingest_batch=N/tbucket=B/tier=T` (key-sorted files), the batch's
    * `_termmeta` and `_docidx` partitions, then its `_stats` row.
    * Overwrite of the batch's own subtrees makes replay idempotent; the
    * write ORDER makes a crash window detectable (postings without stats
    * fails the serve gate loudly; stats are never written first, so an
    * overcount is impossible). Refuses a batch id at or below the
    * compaction watermark — a replayed already-folded batch must not
    * double its documents' postings — and, unless `checkDupIds = false`,
    * a batch carrying a doc_id already ingested under a DIFFERENT batch
    * (the cross-batch uniqueness contract in the object scaladoc; the
    * probe is one doc_id-column scan of the metadata-scale `_docidx`,
    * never the postings). */
  def appendBatch(docs: DataFrame, dir: String, batchId: Long,
                  idCol: String = "doc_id", textCol: String = "text",
                  headSize: Int = DefaultHeadSize,
                  checkDupIds: Boolean = true): Unit = {
    require(batchId >= 0, "appendBatch: batch ids are >= 0 (build uses -1)")
    val root = VersionedDir.resolveDir(dir)
    graft.queue.Maintenance.healAside(java.nio.file.Paths.get(root))
    require(batchId > compactedThrough(root),
      s"postings store at $dir: batch $batchId was already folded by " +
        "compact() - replaying it would double-count its documents; " +
        "resolve the stream checkpoint instead")
    require(!foldedBatches(root).contains(batchId),
      s"postings store at $dir: batch $batchId was already folded by " +
        "compactLevel() - replaying it would double-count its documents; " +
        "resolve the stream checkpoint instead")
    if (checkDupIds) {
      // only COMMITTED registrations can refuse an append: a torn batch's
      // leftover _docidx rows (postings landed, stats never did) will be
      // overwritten by that batch's own replay, so they must not block a
      // different batch from legitimately carrying the doc
      val clash = readDocIdx(docs.sparkSession, root)
        .filter(col("ingest_batch").isInCollection(committedBatches(root)) &&
          col("ingest_batch") =!= batchId)
        .join(broadcast(docs.select(col(idCol).cast("long").as("doc_id"))
          .distinct()), Seq("doc_id"))
        .select(col("doc_id"), col("ingest_batch"))
        .limit(5).collect()
      require(clash.isEmpty,
        s"postings store at $dir: batch $batchId re-ingests doc ids " +
          s"already registered under other batches (e.g. ${clash.map(r =>
            s"${r.getLong(0)} in batch ${r.getLong(1)}").mkString(", ")}) - " +
          "cross-batch doc-id uniqueness is the append contract; erase the " +
          "old rows first or pass checkDupIds = false if uniqueness is " +
          "guaranteed upstream. If this batch is the REPLAY of a torn " +
          "append whose documents were since committed under the listed " +
          "batches, the store already carries them: drop those documents " +
          "from the replayed batch, or advance the stream checkpoint past " +
          s"batch $batchId")
    }
    writeBatch(docs, root, batchId, idCol, textCol, headSize)
  }

  private val ErasedDir = "/_erased"

  /** The takedown tombstone registry: one `doc_id` row per erased id
    * (duplicates from a re-run recovery are harmless — consumers read it
    * distinct). See the crash-window discipline in the object scaladoc
    * for why appends consult it. `root` must be resolved. */
  private[sources] def erasedIds(spark: SparkSession, root: String): DataFrame =
    RegistryIO.readOrEmpty(spark, root.stripSuffix("/") + ErasedDir,
      StructType.fromDDL("doc_id BIGINT"), None).distinct()

  /** `root` must be resolved. Write order postings → termmeta → docidx →
    * stats: the serve gate checks set equality, so stats-present implies
    * the whole batch landed. */
  private def writeBatch(docs: DataFrame, root: String, batchId: Long,
                         idCol: String, textCol: String, headSize: Int): Unit = {
    require(headSize >= 1, "postings store: headSize must be positive")
    // the format-trust contract: the marker is created only on a root with
    // no committed batches, so its presence proves EVERY batch was written
    // by a gen-4 (positions + blockmeta) writer — a marker-less store with
    // data predates the layout and appending would mix formats (phrase
    // serving over the legacy rows' null positions would be silently
    // empty; WAND over missing blockmeta degrades). Loud, with the heal
    // path named.
    if (!hasFormatMarker(root)) {
      require(!RegistryIO.hasData(root, Some("ingest_batch=")),
        s"postings store at $root predates the gen-$FormatGen layout " +
          "(no _format marker beside committed batches) - appending would " +
          "mix on-disk formats; rebuild the store from its corpus on the " +
          "current layout instead")
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(root.stripSuffix("/")))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root.stripSuffix("/"), FormatMarker),
        FormatGen.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // the tombstone gate: a replayed pre-erase batch re-registers only
    // the survivors (takedown-request-sized broadcast by contract)
    val live = docs.join(
      broadcast(erasedIds(docs.sparkSession, root)
        .withColumnRenamed("doc_id", idCol + "__erased")),
      docs(idCol).cast("long") === col(idCol + "__erased"), "left_anti")
    val toks = live.dropDuplicates(idCol)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextAnalysis.tokens(col(textCol))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("tok"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("abs_pos"))
      .withColumn("positions", deltaEncode(col("abs_pos"))).drop("abs_pos")
      .join(dl, "doc_id")
    val tiered = tf
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"),
        col("positions"), bucketCol(col("tok")).as("tbucket"),
        tierCol(headSize).as("tier"))
      .localCheckpoint(true) // feeds postings, termmeta, docidx, stats once
    // files sort by (tok, doc_id): tok runs give the In(tok) row-group
    // pruning, and WITHIN a run doc_id footer stats give the WAND
    // candidate fetch its In(doc_id) row-group pruning
    tiered
      .repartition(col("tbucket"))
      .sortWithinPartitions(col("tbucket"), col("tier"), col("tok"), col("doc_id"))
      .write.mode(SaveMode.Overwrite).partitionBy("tbucket", "tier")
      .parquet(s"$root/ingest_batch=$batchId")
    // block-max certificates BEFORE the stats commit record, like every
    // sidecar: a torn append's blockmeta is invisible with its postings
    blockMetaFor(tiered)
      .select(col("tok"), col("blk_lo"), col("blk_hi"), col("blk_max_tf"),
        col("blk_min_dl"), bucketCol(col("tok")).as("tbucket"))
      .repartition(col("tbucket"))
      .sortWithinPartitions(col("tbucket"), col("tok"), col("blk_lo"))
      .write.mode(SaveMode.Overwrite).partitionBy("tbucket")
      .parquet(s"$root/_blockmeta/ingest_batch=$batchId")
    termMetaFor(tiered)
      .select(col("tok"), col("df"), col("tail_max_tf"), col("tail_min_dl"),
        bucketCol(col("tok")).as("tbucket"))
      .repartition(col("tbucket"))
      .sortWithinPartitions(col("tbucket"), col("tok"))
      .write.mode(SaveMode.Overwrite).partitionBy("tbucket")
      .parquet(s"$root/_termmeta/ingest_batch=$batchId")
    tiered.select(col("doc_id"), col("tbucket"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("tbucket"))).as("tbuckets"))
      .select(col("doc_id"), col("tbuckets"),
        dbucketCol(col("doc_id")).as("dbucket"))
      .repartition(col("dbucket"))
      .sortWithinPartitions(col("dbucket"), col("doc_id"))
      .write.mode(SaveMode.Overwrite).partitionBy("dbucket")
      .parquet(s"$root/_docidx/ingest_batch=$batchId")
    tiered.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_len"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$root/_stats/ingest_batch=$batchId")
  }

  /** The postings relation (explicit schema — [[RegistryIO]] rules).
    * `root` must be resolved. */
  private[sources] def readPostings(spark: SparkSession, root: String): DataFrame =
    RegistryIO.readOrEmpty(spark, root, postingsSchema, Some("ingest_batch="))

  private[sources] def readStats(spark: SparkSession, root: String): DataFrame =
    RegistryIO.readOrEmpty(spark, root.stripSuffix("/") + "/_stats",
      statsSchema, Some("ingest_batch="))

  private[sources] def readTermMeta(spark: SparkSession, root: String): DataFrame =
    RegistryIO.readOrEmpty(spark, root.stripSuffix("/") + "/_termmeta",
      termMetaSchema, Some("ingest_batch="))

  private[sources] def readDocIdx(spark: SparkSession, root: String): DataFrame =
    RegistryIO.readOrEmpty(spark, root.stripSuffix("/") + "/_docidx",
      docIdxSchema, Some("ingest_batch="))

  private[sources] def readBlockMeta(spark: SparkSession, root: String): DataFrame =
    RegistryIO.readOrEmpty(spark, root.stripSuffix("/") + "/_blockmeta",
      blockMetaSchema, Some("ingest_batch="))

  /** The batches whose `_stats` row landed — the batch COMMIT RECORD
    * ([[writeBatch]] writes it last): serving restricts every scan to
    * this set, so an in-flight or torn append is INVISIBLE (the
    * committed prefix serves consistently; the stream's replay lands the
    * batch) rather than an error mid-append. `root` must be resolved. */
  private def committedBatches(root: String): Seq[Long] =
    batchIds(root.stripSuffix("/") + "/_stats").toSeq.sorted

  /** The probe scan, pre-aggregation — package-private so the spec can
    * pin its PLAN: `ingest_batch` committed-set and `tbucket` literals in
    * PartitionFilters (≤ |terms| of 256 buckets) and the key set as an
    * `In(tok, …)` of eq leaves in PushedFilters (row-group tier over the
    * key-sorted files). Reads BOTH tiers — the exact-serving probe.
    * `root` must be resolved; `batches` is the serving call's PINNED
    * committed-batch snapshot (resolved once per call and threaded into
    * every relation the serve touches — postings, `_termmeta`, `_stats` —
    * so a batch committing mid-serve is whole-visible or whole-invisible,
    * never stats-only). */
  private[sources] def probe(spark: SparkSession, root: String,
                             terms: Seq[String],
                             batches: Seq[Long]): DataFrame = {
    val buckets = terms.map(bucketOf).distinct
    readPostings(spark, root)
      .filter(col("ingest_batch").isInCollection(batches) &&
        col("tbucket").isInCollection(buckets) &&
        col("tok").isInCollection(terms))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
  }

  /** The TIERED probe: tier 0 only — per term per batch, at most
    * `headSize` postings regardless of df. The tier literal lands in
    * PartitionFilters beside the buckets, so a stop-word term's tail is
    * never listed, let alone read (the spec poisons a tail leaf to pin
    * it). `root` must be resolved, `batches` the pinned committed set. */
  private[sources] def probeHead(spark: SparkSession, root: String,
                                 terms: Seq[String],
                                 batches: Seq[Long]): DataFrame = {
    val buckets = terms.map(bucketOf).distinct
    readPostings(spark, root)
      .filter(col("ingest_batch").isInCollection(batches) &&
        col("tbucket").isInCollection(buckets) &&
        col("tier") === 0 && col("tok").isInCollection(terms))
      // ingest_batch is a partition column (free to carry): the WAND
      // block-max refinement keys a doc's tail bounds by ITS batch (the
      // cross-batch uniqueness contract pins each doc to exactly one)
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"),
        col("ingest_batch"))
  }

  /** A serve's pinned snapshot: the resolved root, through the
    * consistency gate, and its committed-batch set. Every serving face
    * pins ONCE per call and threads `batches` into every relation it
    * touches — postings, `_termmeta`, `_blockmeta`, `_stats` — so a batch
    * committing mid-serve is whole-visible or whole-invisible, never
    * stats-only (N/avgdl/df inflated against postings the probe
    * excluded). */
  private def pin(dir: String): (String, Seq[Long]) = {
    val root = VersionedDir.resolveDir(dir)
    checkConsistent(root)
    (root, committedBatches(root))
  }

  /** The pinned corpus stats `(n_docs, total_len)`: the KB-scale `_stats`
    * sum over the serve's committed batches. */
  private def pinnedStats(spark: SparkSession, root: String,
                          batches: Seq[Long]): DataFrame =
    readStats(spark, root)
      .filter(col("ingest_batch").isInCollection(batches))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_len")).as("total_len"))

  /** The pinned rows of a term-keyed sidecar (`read` = [[readTermMeta]]
    * or [[readBlockMeta]]) for `terms`: committed batches and the terms'
    * buckets as partition literals, the terms a pushed `In`. Handed to
    * `use` inside the In-pushdown scope, so whatever `use` materializes
    * prunes row groups by term. */
  private def pinnedByTerm[T](read: (SparkSession, String) => DataFrame,
                              spark: SparkSession, root: String,
                              terms: Seq[String], batches: Seq[Long])
                             (use: DataFrame => T): T =
    IncrementalContainment.withInPushdown(spark, math.max(terms.size, 10)) {
      use(read(spark, root)
        .filter(col("ingest_batch").isInCollection(batches) &&
          col("tbucket").isInCollection(terms.map(bucketOf).distinct) &&
          col("tok").isInCollection(terms)))
    }

  /** Exact per-term df from pinned `_termmeta` rows — never from a
    * truncated or candidate-restricted probe, which would inflate or
    * undercount every idf. */
  private def dfOf(meta: DataFrame): DataFrame =
    meta.groupBy(col("tok")).agg(sum(col("df")).as("df"))

  /** The one BM25 scoring join: rows carrying `(tok, tf, dl)` join the
    * broadcast per-term `(tok, df)` and the broadcast corpus stats, and
    * score through the shared quantized expression
    * ([[Retrieval.bm25ContribQ]]) into `contrib_q`, keeping `keep`. The
    * WAND certificates go through it too: the scorer is monotone (up in
    * tf, down in dl), so scoring a max tf / min dl bounds every posting
    * it covers, in the same quantized millionths. */
  private final case class Scorer(dfs: DataFrame, stats: DataFrame,
                                  k1: Double, b: Double) {
    def apply(rows: DataFrame, keep: String*): DataFrame =
      rows.join(broadcast(dfs), "tok").crossJoin(broadcast(stats))
        .select(keep.map(col) :+ Retrieval.bm25ContribQ(k1, b).as("contrib_q"): _*)
  }

  /** BM25 top-k served from the store: identical output to
    * [[graft.operators.Retrieval.bm25TopK]] over the same corpus — same
    * shared scorer expression ([[Retrieval.bm25ContribQ]]), df counted
    * exactly from the probed postings, N/avgdl from the `_stats` sum —
    * but the corpus read is the pruned probe above instead of a
    * tokenization pass. q126 hash-gates the equality end to end. */
  def bm25TopK(spark: SparkSession, dir: String, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 serve: empty query-term list")
    require(k >= 1, "bm25 serve: k must be positive")
    val (root, batches) = pin(dir)
    Retrieval.bm25Rank(
      servingScored(spark, root, batches, terms, k1, b)
        .select(col("doc_id"), col("contrib_q")),
      k)
  }

  /** TIERED BM25 top-k — the common-term serving bound: reads the HEAD
    * tier only (≤ `headSize` postings per term per batch, enforced by
    * the layout: `tier = 0` is a partition literal in the scan), with
    * per-term df taken EXACTLY from `_termmeta` and N/avgdl from
    * `_stats`, so every idf and length normalization is identical to the
    * exact scorer's — the only approximation is that a document whose
    * posting for some term fell in that term's tail scores without that
    * term's contribution. A term with df ≤ headSize per batch is
    * entirely head, so rare discriminative terms score exactly; the cut
    * is deterministic and integer-exact ([[simpactQ]]), so q130's oracle
    * replays it bit-for-bit, and SCALE.md publishes recall@k vs
    * [[bm25TopK]] as the common term's df grows (the ivfpq_recall
    * discipline). Output shape = [[bm25TopK]]'s; `n_terms_hit` counts
    * head-matched terms. */
  def bm25TopKPruned(spark: SparkSession, dir: String, terms: Seq[String],
                     k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 tiered serve: empty query-term list")
    require(k >= 1, "bm25 tiered serve: k must be positive")
    val (root, batches) = pin(dir)
    Retrieval.bm25Rank(
      prunedScored(spark, root, batches, terms, k1, b)
        .select(col("doc_id"), col("contrib_q")),
      k)
  }

  /** TIERED BATCHED serving — [[bm25TopKBatch]]'s shape over the head
    * tier: the per-query rank window's input is now bounded by
    * headSize · batches per union term NO MATTER the terms' df, which is
    * the piece the exact batch path cannot promise for a stop-word term
    * (q129 deliberately carries one). Same output shape. */
  def bm25TopKPrunedBatch(spark: SparkSession, dir: String, queries: DataFrame,
                          k: Int, k1: Double = 1.2, b: Double = 0.75,
                          queryIdCol: String = "query_id",
                          termCol: String = "term"): DataFrame = {
    require(k >= 1, "bm25 tiered batch serve: k must be positive")
    val (qt, request) = requestOf(queries, queryIdCol, termCol)
    require(request.nonEmpty, "bm25 tiered batch serve: no query terms")
    val (root, batches) = pin(dir)
    rankPerQuery(prunedScored(spark, root, batches, termsOf(request), k1, b),
      qt, k, queryIdCol)
  }

  /** A batch request's `(query_id, tok)` relation, deduplicated and
    * checkpointed (it feeds the request pull AND the per-query rank), and
    * the same request on the driver as `query_id → terms` — driver-side
    * payload by contract (the [[IvfIndexStore.topKBatch]] discipline). */
  private def requestOf(queries: DataFrame, queryIdCol: String,
                        termCol: String): (DataFrame, Map[Long, Set[String]]) = {
    val qt = queries
      .select(col(queryIdCol).cast("long").as(queryIdCol),
        col(termCol).cast("string").as("tok"))
      .dropDuplicates(queryIdCol, "tok")
      .localCheckpoint(true)
    (qt, qt.collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getString(1)).toSet })
  }

  /** The union of a request's terms, in a fixed order. */
  private def termsOf(request: Map[Long, Set[String]]): Seq[String] =
    request.values.flatten.toSeq.distinct.sorted

  /** Per-query top-k over scored `(tok, doc_id, contrib_q)` rows: a
    * document scores for exactly the queries whose terms it matched (the
    * broadcast request relation `qt`), ranked (bm25_q desc, doc_id).
    * Output `(query_id, rnk, doc_id, n_terms_hit, bm25_q)`. */
  private def rankPerQuery(scored: DataFrame, qt: DataFrame, k: Int,
                           queryIdCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rankW = Window.partitionBy(col(queryIdCol))
      .orderBy(col("bm25_q").desc, col("doc_id"))
    scored.join(broadcast(qt), Seq("tok"))
      .groupBy(col(queryIdCol), col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("contrib_q")).as("bm25_q"))
      .withColumn("rnk", row_number().over(rankW))
      .filter(col("rnk") <= k)
      .select(col(queryIdCol), col("rnk"), col("doc_id"),
        col("n_terms_hit"), col("bm25_q"))
  }

  /** EXACT BM25 top-k at (near-)tiered cost — WAND/max-score serving over
    * the impact-tiered layout ([[wandScored]]): serve the HEAD tier first,
    * then open a term's tail ONLY for the documents whose max-score upper
    * bound says the tail could still matter. Output is bit-identical to
    * [[bm25TopK]] (q132 hash-gates it against the exact from-corpus
    * oracle). */
  def bm25TopKWand(spark: SparkSession, dir: String, terms: Seq[String],
                   k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKWandDiag(spark, dir, terms, k, k1, b)._1

  /** Per-serve diagnostics for the WAND faces — what the spec's
    * outlier-adversary gate and SCALE.md's candidate-rows column read.
    * `candidateRows` counts the doc ids named in tail fetches (the
    * request size the block-max refinement exists to shrink);
    * `dispatchedExact` marks the all-head dispatch (no term has a tail:
    * certificates are vacuous and the serve IS the exact head read);
    * `exactFallback` marks the both-tier fallback past the head-summary
    * cap [[WandMaxHeadRows]]; `fullTailFallback` marks a query whose
    * certificates could not exclude unseen documents, so its tail terms
    * were fetched whole. */
  private[graft] final case class WandDiag(
      dispatchedExact: Boolean, exactFallback: Boolean, headRows: Long,
      tailTerms: Int, candidateRows: Long, blockRefined: Boolean,
      fullTailFallback: Boolean = false)

  /** Ceiling on the head-probe rows the WAND serve will summarize on the
    * driver: the summary is layout-bounded (≤ headSize · batches ·
    * |terms| rows), but that bound grows LINEARLY in committed batch
    * count, so a long-running uncompacted stream of micro-batches could
    * inflate driver memory per serve. Past the cap the serve falls back
    * to the exact both-tier path — still exact, no driver summary at all
    * — and [[compactLevel]] is the operational remedy (it is precisely
    * the knob that keeps batch count, and with it this bound, flat). */
  private[sources] val WandMaxHeadRows: Long = 1000000L

  /** Gate on the block-max refinement: `_blockmeta` is only consulted when
    * the candidate set the PER-BATCH certificates leave behind is at least
    * this many (term, doc) rows. The refinement's whole point is shrinking
    * a LARGE candidate fetch; below this floor the fetch is a handful of
    * pushed-`In` row-group reads, cheaper than the refinement's own
    * metadata scan, range join and two driver collects (r20 measured that
    * unconditional read as a 14-24% regression on q132/q135 at sf0.1,
    * where the per-batch certificates already excluded everything). The
    * bound is metadata-scale (candidate rows ≤ headDocs · tailTerms, both
    * layout-bounded), not corpus-scale, so a constant is appropriate at
    * any SF; tests force the refinement with `blockMaxMinRows = 1`. */
  private[sources] val WandBlockMaxMinCandidates: Long = 1024L

  private[graft] def bm25TopKWandDiag(spark: SparkSession, dir: String,
                                      terms: Seq[String], k: Int,
                                      k1: Double = 1.2, b: Double = 0.75,
                                      useBlockMax: Boolean = true,
                                      maxHeadRows: Long = WandMaxHeadRows,
                                      blockMaxMinRows: Long = WandBlockMaxMinCandidates)
      : (DataFrame, WandDiag) = {
    require(terms.nonEmpty, "bm25 wand serve: empty query-term list")
    require(k >= 1, "bm25 wand serve: k must be positive")
    val (scored, diag) = wandScored(spark, dir, Map(0L -> terms.toSet), k,
      k1, b, useBlockMax, maxHeadRows, blockMaxMinRows)
    (Retrieval.bm25Rank(scored.select(col("doc_id"), col("contrib_q")), k),
      diag)
  }

  /** The WAND candidate fetch: ONE term's tail rows for the named
    * documents — `tier=1` + the term's bucket in PartitionFilters, the
    * term and `In(doc_id, …)` pushed to the (tok, doc_id)-sorted files so
    * row groups outside the candidates' id range never decompress.
    * Package-private so the spec can pin the plan. `root` resolved,
    * `batches` the serve's pinned committed set. */
  private[sources] def probeTail(spark: SparkSession, root: String,
                                 term: String, docIds: Seq[Long],
                                 batches: Seq[Long]): DataFrame =
    probeTailAll(spark, root, term, batches)
      .filter(col("doc_id").isInCollection(docIds))

  /** One term's WHOLE tail — the WAND fallback for the tail terms of a
    * query whose certificates cannot exclude unseen documents (only that
    * query's terms degrade, never the whole serve). Same partition bounds
    * as [[probeTail]] minus the id restriction. */
  private def probeTailAll(spark: SparkSession, root: String, term: String,
                           batches: Seq[Long]): DataFrame =
    readPostings(spark, root)
      .filter(col("ingest_batch").isInCollection(batches) &&
        col("tbucket") === bucketOf(term) && col("tier") === 1 &&
        col("tok") === term)
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))

  /** BATCHED WAND serving — [[bm25TopKBatch]]'s exact output (q135
    * hash-gates it against q129's oracle VERBATIM) at certificate-bounded
    * cost: ONE [[wandScored]] serve over the whole request, ranked per
    * query through the broadcast request relation. */
  def bm25TopKWandBatch(spark: SparkSession, dir: String, queries: DataFrame,
                        k: Int, k1: Double = 1.2, b: Double = 0.75,
                        queryIdCol: String = "query_id",
                        termCol: String = "term"): DataFrame =
    bm25TopKWandBatchDiag(spark, dir, queries, k, k1, b,
      queryIdCol, termCol)._1

  private[graft] def bm25TopKWandBatchDiag(spark: SparkSession, dir: String,
                                           queries: DataFrame, k: Int,
                                           k1: Double = 1.2, b: Double = 0.75,
                                           queryIdCol: String = "query_id",
                                           termCol: String = "term")
      : (DataFrame, WandDiag) = {
    require(k >= 1, "bm25 wand batch serve: k must be positive")
    val (qt, request) = requestOf(queries, queryIdCol, termCol)
    require(request.nonEmpty, "bm25 wand batch serve: no query terms")
    val (scored, diag) = wandScored(spark, dir, request, k, k1, b,
      useBlockMax = true, WandMaxHeadRows, WandBlockMaxMinCandidates)
    (rankPerQuery(scored, qt, k, queryIdCol), diag)
  }

  /** The one WAND serve behind [[bm25TopKWand]] and [[bm25TopKWandBatch]]:
    * for a driver-side request `query_id → terms`, the `(tok, doc_id,
    * contrib_q)` rows whose per-query rank is each query's exact BM25
    * top-k — the exactness the impact tiers traded away, bought back with
    * the `_termmeta` tail certificates instead of an O(df) stop-word read:
    *
    *   1. HEAD pass ([[probeHead]], tier=0 partition literal) over the
    *      union of the request's terms: per-(query, doc) partial scores
    *      `s_head(d)` and each doc's head-matched term set, attributed on
    *      the driver from the collected head rows; df EXACT from
    *      `_termmeta`, stats from `_stats` — idf and length normalization
    *      identical to the exact scorer's.
    *   2. CERTIFICATES: per tail-bearing term,
    *      `UB_t = max over batches of contrib(tail_max_tf, tail_min_dl)`
    *      at the serve-time (df, N, avgdl) — an upper bound on every tail
    *      contribution (the scorer is monotone up in tf, down in dl),
    *      floored into the same quantized millionths BY the same shared
    *      Spark expression, so the bound is exactly comparable to the
    *      contributions it bounds. Shared across queries.
    *   3. THRESHOLD `θ_q` = query q's k-th largest `s_head` — a lower bound
    *      on its k-th largest TRUE score. An unseen document's true score
    *      is ≤ Σ UB_t over q's tail terms; below θ_q, no unseen document
    *      can reach q's top k. A seen document's true score is
    *      ≤ `UB(d) = s_head(d) + Σ UB_t` over q's tail terms it did NOT
    *      match in head; `UB(d) < θ_q` excludes it — and every true top-k
    *      document survives the cut (true ≥ k-th-true ≥ θ_q, and
    *      UB ≥ true).
    *   4. BLOCK-MAX refinement, when the cut leaves at least
    *      `blockMaxMinRows` (term, doc) candidates: per (tail term,
    *      surviving doc), the bound of the ONE `_blockmeta` block whose id
    *      range covers the doc in the doc's batch replaces `UB_t`; no
    *      covering block is a PROOF of no tail posting (blocks partition
    *      the tail), and a batch with tails but no block rows keeps its
    *      per-batch certificate. Refined bounds only shrink, so step 3's
    *      argument holds unchanged and the refined cut is a subset of the
    *      coarse one.
    *   5. TAIL FETCH, per term: the UNION of its surviving candidates
    *      across queries (`tier=1` and the term's bucket as PARTITION
    *      literals, the term a pushed eq leaf, `In(doc_id, candidates)`
    *      pruning row groups inside the term's (tok, doc_id)-sorted run),
    *      all terms in ONE job; or the WHOLE tail for the tail terms of a
    *      query whose certificates cannot exclude unseen documents (fewer
    *      than k head docs, or Σ UB_t ≥ θ_q); or nothing — a term no query
    *      needs is never listed, let alone read (the certificate skip the
    *      poisoned-tail specs pin).
    *
    * Fetched contributions complete the candidates' scores exactly; every
    * excluded document ranks strictly below its query's θ_q and cannot
    * enter or perturb that top k, so each ranked output (scores,
    * n_terms_hit, ties) is the exact serve's bit for bit. Over-fetch is
    * sound by monotonicity: an extra tail row only moves a document's
    * score TOWARD its true score, so per-query attribution stays exact
    * even when one query's fetch carries rows another query's certificate
    * had excluded.
    *
    * Dispatch: no request term has a tail anywhere (every df ≤ headSize
    * per batch — q130's exactness class) → the head IS the whole posting
    * set, served by [[servingScored]] with no summary at all; the common
    * rare-term query pays nothing for WAND being the entry point. Past
    * `maxHeadRows` head rows the serve also falls back to
    * [[servingScored]] (bounded driver state). Driver-side state is
    * bounded by the LAYOUT, never the corpus: the head rows are
    * ≤ headSize · batches · |terms|, the certificates ≤ |terms|. */
  private def wandScored(spark: SparkSession, dir: String,
                         request: Map[Long, Set[String]], k: Int,
                         k1: Double, b: Double, useBlockMax: Boolean,
                         maxHeadRows: Long, blockMaxMinRows: Long)
      : (DataFrame, WandDiag) = {
    val terms = termsOf(request)
    val (root, batches) = pin(dir)
    // metadata FIRST (KB-scale): the dispatch decision must not cost a
    // head probe when the answer is "no certificates needed at all"
    val meta = pinnedByTerm(readTermMeta, spark, root, terms, batches)(
      _.localCheckpoint(true))
    val score = Scorer(dfOf(meta), pinnedStats(spark, root, batches), k1, b)
    val tailUB: Map[String, Long] =
      score(meta.filter(col("tail_max_tf").isNotNull)
        .select(col("tok"), col("tail_max_tf").as("tf"),
          col("tail_min_dl").as("dl")), "tok")
        .groupBy(col("tok")).agg(max(col("contrib_q")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def exactServe(diag: WandDiag): (DataFrame, WandDiag) =
      (servingScored(spark, root, batches, terms, k1, b), diag)
    if (tailUB.isEmpty)
      return exactServe(WandDiag(dispatchedExact = true,
        exactFallback = false, headRows = 0L, tailTerms = 0,
        candidateRows = 0L, blockRefined = false))
    val headScored = IncrementalContainment.withInPushdown(
      spark, math.max(terms.size, 10)) {
      score(probeHead(spark, root, terms, batches),
        "tok", "doc_id", "ingest_batch")
        .localCheckpoint(true) // feeds the driver summary AND the rank
    }
    val headRows = headScored.count()
    if (headRows > maxHeadRows)
      return exactServe(WandDiag(dispatchedExact = false,
        exactFallback = true, headRows = headRows,
        tailTerms = tailUB.size, candidateRows = 0L, blockRefined = false))
    // per-(query, doc) head summary, attributed on the driver:
    // (s_head, head-matched terms, batch) — min(ingest_batch) IS the
    // doc's batch (the cross-batch uniqueness contract pins each doc to
    // exactly one)
    val headByTok = headScored.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val summary: Map[Long, Seq[(Long, Long, Set[String], Long)]] =
      request.map { case (q, qTerms) =>
        q -> qTerms.toSeq.flatMap(t => headByTok.getOrElse(t, Array.empty))
          .groupBy(_._2).toSeq.map { case (id, rs) =>
            (id, rs.map(_._4).sum, rs.map(_._1).toSet, rs.map(_._3).min)
          }
      }
    // the candidate cut, parameterized by the bound in force (Some(bound)
    // = the doc COULD have a tail posting for t; None = provably cannot):
    // per term, the whole tail if some query cannot exclude unseen
    // documents, else the union of the queries' surviving candidates
    // (possibly empty = skip). The whole-tail decision uses only the
    // per-batch bounds, so it is the same under coarse and refined bounds.
    def cut(bound: (String, Long, Long) => Option[Long])
        : (Set[String], Map[String, Set[Long]]) = {
      val fullTails = scala.collection.mutable.Set.empty[String]
      val candByTerm = scala.collection.mutable.Map.empty[String, Set[Long]]
      request.foreach { case (q, qTerms) =>
        val qTail = qTerms.filter(tailUB.contains).toSeq.sorted
        val docs = summary(q)
        // θ_q: the k-th largest head partial (None: fewer than k head docs)
        docs.map(_._2).sorted(Ordering[Long].reverse).lift(k - 1) match {
          case _ if qTail.isEmpty => ()
          case Some(theta) if qTail.map(tailUB).sum < theta =>
            qTail.foreach { t =>
              val cands = docs.collect {
                case (id, s, hit, batch) if !hit(t) &&
                  bound(t, id, batch).isDefined &&
                  s + qTail.collect { case t2 if !hit(t2) =>
                    bound(t2, id, batch).getOrElse(0L) }.sum >= theta => id
              }
              if (cands.nonEmpty)
                candByTerm(t) = candByTerm.getOrElse(t, Set.empty) ++ cands
            }
          case _ => fullTails ++= qTail // unseen documents not excludable
        }
      }
      (fullTails.toSet, candByTerm.toMap -- fullTails)
    }
    // FIRST the per-batch certificates alone — free, the head summary is
    // already on the driver; `_blockmeta` only when the set they leave is
    // big enough to pay for the refinement (see [[WandBlockMaxMinCandidates]])
    val coarse = cut((t, _, _) => Some(tailUB(t)))
    val coarseRows = coarse._2.values.map(_.size.toLong).sum
    val refine = useBlockMax && coarseRows > 0 && coarseRows >= blockMaxMinRows
    // block-max bounds for the DISTINCT coarse-surviving docs (the bound
    // depends on (term, doc), not the query): a range join of the pruned
    // `_blockmeta` scan against the broadcast candidates, so the driver
    // holds at most |coarse docs| · |tail terms| refined bounds
    val (blockUB, blocksPresent): (Map[(String, Long), Long], Set[(String, Long)]) =
      if (!refine) (Map.empty, Set.empty)
      else {
        import spark.implicits._
        val blocks = pinnedByTerm(readBlockMeta, spark, root,
          tailUB.keys.toSeq.sorted, batches)(_.localCheckpoint(true))
        val present = blocks.select(col("tok"), col("ingest_batch"))
          .distinct().collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
        val coarseIds = coarse._2.valuesIterator.flatten.toSet
        val hd = broadcast(summary.values.flatten.collect {
          case (id, _, _, batch) if coarseIds(id) => (id, batch)
        }.toSeq.distinct.toDF("cand_id", "cand_batch"))
        val ub = score(blocks
            .join(hd, hd("cand_batch") === blocks("ingest_batch") &&
              hd("cand_id").between(col("blk_lo"), col("blk_hi")))
            .select(col("tok"), col("cand_id"),
              col("blk_max_tf").as("tf"), col("blk_min_dl").as("dl")),
            "tok", "cand_id")
          .groupBy(col("tok"), col("cand_id"))
          .agg(max(col("contrib_q")))
          .collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
        (ub, present)
      }
    val (fullTails, candByTerm) =
      if (!refine) coarse
      else cut { (t, id, batch) =>
        if (blocksPresent((t, batch))) blockUB.get((t, id)) else Some(tailUB(t))
      }
    // candidate fetches union into ONE checkpointed job, the pushdown
    // threshold sized to the largest per-term id list (each scan's own In
    // list is per-term, so a larger threshold only ever pushes more);
    // whole-tail fetches carry no In list and ride the same union
    val candTerms = candByTerm.keys.toSeq.sorted
    val fetches =
      fullTails.toSeq.sorted.map(t => probeTailAll(spark, root, t, batches)) ++
        (if (candTerms.isEmpty) Nil
        else Seq(IncrementalContainment.withInPushdown(
          spark, idPushdown(candTerms.map(candByTerm(_).size).max)) {
          candTerms.map { t =>
            probeTail(spark, root, t, candByTerm(t).toSeq.sorted, batches)
          }.reduce(_ unionByName _).localCheckpoint(true)
        }))
    val head = headScored.select(col("tok"), col("doc_id"), col("contrib_q"))
    (if (fetches.isEmpty) head
    else head.unionByName(
      score(fetches.reduce(_ unionByName _), "tok", "doc_id")),
      WandDiag(dispatchedExact = false, exactFallback = false,
        headRows = headRows, tailTerms = tailUB.size,
        candidateRows = candByTerm.values.map(_.size.toLong).sum,
        blockRefined = blocksPresent.nonEmpty,
        fullTailFallback = fullTails.nonEmpty))
  }

  /** The tiered-serving assembly the single and batched pruned serves
    * share (mirroring [[servingScored]] for the exact pair): the
    * HEAD-TIER probe, exact df from the `_termmeta` sidecar — NEVER from
    * the truncated probe (a head-counted df would inflate idf exactly
    * when pruning engages) — and the pinned stats. Returns
    * `(tok, doc_id, contrib_q)` over the [[pin]]ned snapshot. */
  private def prunedScored(spark: SparkSession, root: String,
                           batches: Seq[Long], terms: Seq[String],
                           k1: Double, b: Double): DataFrame = {
    val matched = IncrementalContainment.withInPushdown(
      spark, math.max(terms.size, 10)) {
      probeHead(spark, root, terms, batches).localCheckpoint(true)
    }
    val dfs = pinnedByTerm(readTermMeta, spark, root, terms, batches)(
      m => dfOf(m).localCheckpoint(true))
    Scorer(dfs, pinnedStats(spark, root, batches), k1, b)(
      matched, "tok", "doc_id")
  }

  /** The serving assembly the single and batched EXACT serves share
    * (the `Retrieval.bm25ContribQ` rule one level up — the two read paths
    * must not drift apart): the pruned probe over `terms` (one snapshot
    * feeds the df count and the scorer; parquet's In pushdown must not
    * rewrite the key set to a useless min/max range past the default
    * threshold — the containment-probe rule), per-term df counted from
    * the matched postings, the pinned stats. Returns
    * `(tok, doc_id, contrib_q)` over the [[pin]]ned snapshot. */
  private def servingScored(spark: SparkSession, root: String,
                            batches: Seq[Long], terms: Seq[String],
                            k1: Double, b: Double): DataFrame = {
    val matched = IncrementalContainment.withInPushdown(
      spark, math.max(terms.size, 10)) {
      probe(spark, root, terms, batches).localCheckpoint(true)
    }
    Scorer(matched.groupBy(col("tok")).agg(count(lit(1)).as("df")),
      pinnedStats(spark, root, batches), k1, b)(matched, "tok", "doc_id")
  }

  /** BATCHED BM25 serving — the [[IvfIndexStore.topKBatch]] shape for the
    * sparse store: a request batch of `(query_id, term)` rows (driver-side
    * payload by contract) answered from ONE probe over the UNION of the
    * queries' terms. Per-term df and the corpus stats are computed once
    * and shared across queries; per-query scoring joins the broadcast
    * request relation, so a document scores for exactly the queries whose
    * terms it matched; per-query top-k is a rank window over the matched
    * postings (bounded by the union terms' df). Output:
    * `(query_id, rnk, doc_id, n_terms_hit, bm25_q)`. */
  def bm25TopKBatch(spark: SparkSession, dir: String, queries: DataFrame,
                    k: Int, k1: Double = 1.2, b: Double = 0.75,
                    queryIdCol: String = "query_id",
                    termCol: String = "term"): DataFrame = {
    require(k >= 1, "bm25 batch serve: k must be positive")
    val (qt, request) = requestOf(queries, queryIdCol, termCol)
    require(request.nonEmpty, "bm25 batch serve: no query terms")
    val (root, batches) = pin(dir)
    rankPerQuery(servingScored(spark, root, batches, termsOf(request), k1, b),
      qt, k, queryIdCol)
  }

  /** PHRASE top-k — the positional face of the store: documents
    * containing the exact consecutive token sequence `phrase`, ranked
    * (occurrence count desc, doc_id asc). The probe reads both tiers of
    * the phrase terms' buckets (a posting's positions live wherever its
    * impact landed it; phrase semantics are tier-blind) with SEED-TERM
    * candidate pruning: every slot must be present in a matching doc, so
    * the rarest term (exact df from `_termmeta`) probes fully and — when
    * its df fits a driver In list (`seedMaxDf`) — every OTHER slot
    * fetches only the seed's doc ids via pushed `In(doc_id)` over the
    * (tok, doc_id)-sorted runs: a stop-word slot costs O(seed df), never
    * its own O(df) positions run. Then per-posting positions decode (a
    * prefix sum bounded by tf) and adjacency verifies INSIDE codegen: a
    * start position `p` matches iff slot `i`'s array contains `p + i`
    * for every following slot, all higher-order array functions, no UDF,
    * no re-tokenization. The per-doc join fan-in is one row per
    * (doc, phrase slot) — postings volume, never the corpus token
    * stream. Output
    * `(rnk, doc_id, phrase_tf)`, exactly `k` rows or every matching
    * document if fewer (q133 hash-gates it against a DuckDB replay of the
    * adjacency over the raw corpus).
    *
    * PROXIMITY: `slop` relaxes adjacency to an ordered chain — a start
    * position matches iff there exist p₀ < p₁ < … with pᵢ in slot i and
    * every gap ≤ 1 + slop (slop = 0 forces pᵢ = pᵢ₋₁ + 1, the exact
    * phrase; the count stays "start positions with at least one valid
    * chain", so the slop = 0 count is unchanged by construction). q136
    * hash-gates the sloppy bigram the same way. */
  def phraseTopK(spark: SparkSession, dir: String, phrase: Seq[String],
                 k: Int, slop: Int = 0,
                 seedMaxDf: Long = DefaultPhraseSeedMaxDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(phrase.size >= 2, "phrase serve: need at least two tokens")
    require(k >= 1, "phrase serve: k must be positive")
    require(slop >= 0, "phrase serve: slop must be >= 0")
    val (root, batches) = pin(dir)
    requirePositionalFormat(root, dir)
    phraseMatches(spark, root, phrase, slop, seedMaxDf, batches)
      .orderBy(col("phrase_tf").desc, col("doc_id"))
      .limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("phrase_tf").desc, col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("phrase_tf"))
  }

  /** Layout guard (replaces the r19 per-serve null scan — ADVICE'd as an
    * extra full action over every probe): the `_format` marker exists iff
    * every batch was written by a positional-layout writer
    * ([[writeBatch]] creates it only on an empty root and refuses to
    * append to a marker-less store with data), so one file-existence
    * check proves the positions column is real. A pre-positions store
    * would read `positions` as NULL on every row and adjacency over
    * nulls would return silently EMPTY — the one wrong answer worse than
    * an error. Refuse loudly instead; the heal path is a rebuild on the
    * current layout. */
  private def requirePositionalFormat(root: String, dir: String): Unit =
    require(hasFormatMarker(root),
      s"postings store at $dir: no _format marker, so postings may lack " +
        "the positions column (pre-gen-4 layout) - phrase serving needs " +
        "a store rebuilt on the positional format")

  /** The phrase/proximity MATCH relation `(doc_id, phrase_tf)`,
    * phrase_tf ≥ 1 — [[phraseTopK]]'s body without the rank, factored so
    * [[bm25TopKPhrase]] composes it as a candidate filter. `root`
    * resolved, format-checked by the caller; `batches` the pinned
    * committed snapshot. */
  private def phraseMatches(spark: SparkSession, root: String,
                            phrase: Seq[String], slop: Int, seedMaxDf: Long,
                            batches: Seq[Long]): DataFrame = {
    val terms = phrase.distinct
    // SEED-TERM candidate pruning (the WAND candidate-fetch trick applied
    // to phrases): every slot must be present in a matching doc, so the
    // RAREST phrase term bounds the candidates. df comes from the exact
    // `_termmeta` sidecar (metadata-scale); when the seed's df fits a
    // driver In list, the seed slot probes fully and every OTHER slot
    // fetches only the seed's doc ids — pushed In(doc_id) pruning row
    // groups inside each term's (tok, doc_id)-sorted run — so a
    // stop-word slot costs O(candidates), not its O(df) positions run.
    // Past the threshold the probe falls back to the full O(Σ df) read
    // (honest and stated; at that seed df the request is no longer
    // driver-bounded).
    val metaDf: Map[String, Long] =
      pinnedByTerm(readTermMeta, spark, root, terms, batches)(
        m => dfOf(m).collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    if (terms.exists(t => metaDf.getOrElse(t, 0L) == 0L))
      // a slot term absent from the corpus: no document can match
      return spark.emptyDataFrame.select(
        lit(0L).as("doc_id"), lit(0L).as("phrase_tf")).limit(0)
    val seed = terms.sortBy(t => (metaDf(t), t)).head
    val probed = (if (metaDf(seed) <= seedMaxDf) {
      val seedRows = IncrementalContainment.withInPushdown(spark, 10) {
        probePositions(spark, root, Seq(seed), batches).localCheckpoint(true)
      }
      val ids = seedRows.select(col("doc_id")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted // ≤ seed df by contract
      val others = terms.filterNot(_ == seed)
      if (others.isEmpty || ids.isEmpty) seedRows
      else IncrementalContainment.withInPushdown(spark, idPushdown(ids.size)) {
        seedRows.unionByName(
          probePositionsForDocs(spark, root, others, ids, batches))
          .localCheckpoint(true)
      }
    } else IncrementalContainment.withInPushdown(
      spark, math.max(terms.size, 10)) {
      probePositions(spark, root, terms, batches).localCheckpoint(true)
    })
    // slot i = the phrase's i-th token's position set per doc; a doc
    // missing any slot term cannot match (inner joins drop it). The
    // pre-positions legacy hazard (null positions → silently empty
    // adjacency) is excluded up front by [[requirePositionalFormat]] —
    // no per-serve row scan needed.
    val slots = phrase.zipWithIndex.map { case (t, i) =>
      probed.filter(col("tok") === t)
        .select(col("doc_id"), col("abs_pos").as(s"pos_$i"))
    }
    val joined = slots.reduce((a, b) => a.join(b, "doc_id"))
    // ordered-chain match, all inside codegen'd higher-order functions:
    // nested exists over each slot's position set, gap bound 1 + slop
    def chain(i: Int, prev: Column): Column =
      if (i == phrase.size) lit(true)
      else exists(col(s"pos_$i"), p =>
        p > prev && p - prev <= lit((1 + slop).toLong) && chain(i + 1, p))
    val starts = filter(col("pos_0"), p => chain(1, p))
    joined.select(col("doc_id"), size(starts).cast("long").as("phrase_tf"))
      .filter(col("phrase_tf") >= 1)
  }

  /** PHRASE-AWARE RANKED RETRIEVAL — the query shape a retrieval user
    * types after [[phraseTopK]]: a quoted phrase plus free terms
    * (`"the fast" dup`). The phrase is a CANDIDATE FILTER (a document
    * must contain the exact sequence — or the `slop`-relaxed ordered
    * chain), the ranking is BM25 over `phrase ++ terms` through the
    * shared quantized scorer, with df EXACT from `_termmeta` (the tiered
    * serve's rule: a candidate-restricted probe must never count df —
    * idf stays the corpus-wide exact value) and N/avgdl from `_stats`.
    *
    * Cost shape: the phrase match is seed-pruned (O(seed df), the
    * [[phraseTopK]] bound), and the SCORING probe fetches only the
    * candidates' rows — bucket partition literals, pushed `In(tok)` and
    * `In(doc_id, candidates)` over the (tok, doc_id)-sorted runs — so a
    * stop-word free term costs O(candidates), never its O(df) run. Past
    * `seedMaxDf` candidates the scoring probe falls back to the full
    * probe + a candidate semi-join (honest and stated, same rule as the
    * phrase probe itself). Output
    * `(rnk, doc_id, phrase_tf, n_terms_hit, bm25_q)` ranked
    * (bm25_q desc, doc_id), at most `k` rows — q138 hash-gates it
    * against a DuckDB replay of adjacency + BM25 + the composition. */
  def bm25TopKPhrase(spark: SparkSession, dir: String, phrase: Seq[String],
                     terms: Seq[String] = Nil, k: Int = 10, slop: Int = 0,
                     k1: Double = 1.2, b: Double = 0.75,
                     seedMaxDf: Long = DefaultPhraseSeedMaxDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(phrase.size >= 2, "phrase-ranked serve: need at least two tokens")
    require(k >= 1, "phrase-ranked serve: k must be positive")
    require(slop >= 0, "phrase-ranked serve: slop must be >= 0")
    val (root, batches) = pin(dir)
    requirePositionalFormat(root, dir)
    val matches = phraseMatches(spark, root, phrase, slop, seedMaxDf, batches)
      .localCheckpoint(true) // candidates feed the id pull AND the final join
    val scoring = (phrase ++ terms).distinct
    val candIds = matches.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSeq.sorted
    if (candIds.isEmpty)
      return spark.emptyDataFrame.select(lit(0).cast("int").as("rnk"),
        lit(0L).as("doc_id"), lit(0L).as("phrase_tf"),
        lit(0L).as("n_terms_hit"), lit(0L).as("bm25_q")).limit(0)
    // df EXACT from the sidecar — the candidate-restricted probe below
    // must not be the df source (it would undercount every idf)
    val score = Scorer(
      pinnedByTerm(readTermMeta, spark, root, scoring, batches)(
        m => dfOf(m).localCheckpoint(true)),
      pinnedStats(spark, root, batches), k1, b)
    val probed =
      if (candIds.size <= seedMaxDf)
        IncrementalContainment.withInPushdown(spark, idPushdown(candIds.size)) {
          probe(spark, root, scoring, batches)
            .filter(col("doc_id").isInCollection(candIds))
            .localCheckpoint(true)
        }
      else // candidate list past the driver-payload bound: full probe +
        // semi-join (the phrase probe's own fallback rule)
        IncrementalContainment.withInPushdown(
          spark, math.max(scoring.size, 10)) {
          probe(spark, root, scoring, batches)
            .join(matches.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .localCheckpoint(true)
        }
    score(probed, "doc_id")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("contrib_q")).as("bm25_q"))
      .join(matches, "doc_id") // inner: scores exist for every candidate
      .orderBy(col("bm25_q").desc, col("doc_id"))
      .limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("bm25_q").desc, col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("phrase_tf"),
        col("n_terms_hit"), col("bm25_q"))
  }

  /** Seed-df ceiling for [[phraseTopK]]'s candidate pruning: the seed's
    * doc ids become a driver-side In list, so the cap is the
    * request-payload bound, not a correctness knob — past it the probe
    * falls back to the full read with identical results (spec-pinned). */
  val DefaultPhraseSeedMaxDf: Long = 65536L

  /** Ceiling on the number of values pushed as a literal `In` into the
    * parquet filter by the candidate fetches. Parquet evaluates a pushed
    * In as a RECURSIVE Or chain — thousands of values stack-overflow the
    * scan (measured: the sf0.1 phrase seed list did) — so past this cap
    * the fetch lets Spark's default threshold rewrite the PUSHED filter
    * to the `[min, max]` range (which still prunes row groups over the
    * (tok, doc_id)-sorted runs) while the exact membership evaluates
    * post-scan as an InSet hash lookup. Correctness is unaffected either
    * way; only the pushed form changes. */
  private val MaxPushedInValues = 512

  /** The In-pushdown threshold for a candidate fetch of `n` ids: the full
    * literal In when the chain stays shallow, the range rewrite past the
    * cap. Never below parquet's default of 10. */
  private def idPushdown(n: Int): Int =
    math.max(math.min(n, MaxPushedInValues), 10)

  /** The candidate-restricted phrase fetch: the non-seed slots' postings
    * for the seed term's documents only — bucket partition literals,
    * pushed `In(tok)` AND `In(doc_id)` over the (tok, doc_id)-sorted
    * files. Package-private so the spec can pin the plan. */
  private[sources] def probePositionsForDocs(spark: SparkSession,
                                             root: String,
                                             terms: Seq[String],
                                             docIds: Seq[Long],
                                             batches: Seq[Long]): DataFrame =
    probePositions(spark, root, terms, batches)
      .filter(col("doc_id").isInCollection(docIds))

  /** The phrase probe: both tiers of the terms' buckets with positions
    * DECODED to absolute offsets — package-private so the spec can pin
    * the plan (bucket partition literals + pushed `In(tok)`). `root`
    * resolved, `batches` pinned. */
  private[sources] def probePositions(spark: SparkSession, root: String,
                                      terms: Seq[String],
                                      batches: Seq[Long]): DataFrame = {
    val buckets = terms.map(bucketOf).distinct
    readPostings(spark, root)
      .filter(col("ingest_batch").isInCollection(batches) &&
        col("tbucket").isInCollection(buckets) &&
        col("tok").isInCollection(terms))
      .select(col("tok"), col("doc_id"),
        decodePositions(col("positions")).as("abs_pos"))
  }

  /** Serve-time consistency gate on a RESOLVED root: heals a crashed
    * leaf-swap aside first, then refuses (a) a store with an in-flight or
    * crashed ERASE (the marker names its touched batches — the next
    * [[deleteDocs]] call recovers), and (b) the impossible inversion — a
    * batch with a `_stats` commit record but missing postings, termmeta,
    * or docidx ([[writeBatch]] writes stats LAST, so this can only be
    * corruption or a manual deletion, never a crash window). A batch the
    * other way around — postings landed, stats not yet — is an IN-FLIGHT
    * append: serving restricts itself to [[committedBatches]] and stays
    * consistent on the committed prefix (healed by the stream's replay,
    * never an error mid-append and never a silent under-count). */
  private def checkConsistent(root: String): Unit = {
    graft.queue.Maintenance.healAside(java.nio.file.Paths.get(root))
    require(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(root, EraseMarker)),
      s"postings store at $root: an erase is in flight or crashed - " +
        "call deleteDocs to recover before serving")
    val p = batchIds(root)
    val tm = batchIds(root.stripSuffix("/") + "/_termmeta")
    val dx = batchIds(root.stripSuffix("/") + "/_docidx")
    val s = batchIds(root.stripSuffix("/") + "/_stats")
    require(s.subsetOf(p) && s.subsetOf(tm) && s.subsetOf(dx),
      s"postings store at $root: committed batches $s missing postings " +
        s"($p), termmeta ($tm), or docidx ($dx) subtrees - stats are " +
        "written last, so this is corruption, not a crash window")
  }

  /** [[compact]]'s strict gate: the maintainer must see a COMPLETE store
    * — a torn or in-flight append at fold time violates the
    * single-maintainer contract and would either lose the batch's tail
    * (fold misses it, GC deletes it) or double it (replay after the
    * fold's watermark refuses it). Loud, with the heal path named. */
  private def checkComplete(root: String): Unit = {
    checkConsistent(root)
    val p = batchIds(root)
    val s = batchIds(root.stripSuffix("/") + "/_stats")
    require(p == s,
      s"postings store at $root: torn append - postings batches $p vs " +
        s"stats batches $s; replay the missing batch (or erase the " +
        "orphan subtree) before compacting")
  }

  private def batchIds(dir: String): Set[Long] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Set.empty
    else {
      val s = java.nio.file.Files.list(p)
      try {
        var out = Set.empty[Long]
        val it = s.iterator()
        while (it.hasNext) {
          val name = it.next().getFileName.toString
          if (name.startsWith("ingest_batch="))
            out += name.stripPrefix("ingest_batch=").toLong
        }
        out
      } finally s.close()
    }
  }

  private val CompactMarker = "_compacted_through"

  private def compactedThrough(root: String): Long = {
    val m = java.nio.file.Paths.get(root, CompactMarker)
    if (java.nio.file.Files.exists(m))
      new String(java.nio.file.Files.readAllBytes(m),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    else -1L
  }

  /** The flat-layout artifacts that constitute one store version — what
    * a fold stages into the next version and what GC removes from a root
    * two generations stale. Never touches the version layer or
    * caller-owned markers beside the store. */
  private val StoreArtifacts =
    Seq("_stats", "_termmeta", "_docidx", "_blockmeta", "_erased",
      CompactMarker, FormatMarker, FoldedMarker)

  /** Fold every batch into one `ingest_batch=-1` layout — re-sorted by
    * key and RE-TIERED globally (the per-batch impact cuts collapse into
    * one corpus-wide cut, so a long-lived store's head tier is the
    * `headSize` best postings per term, not `headSize · batches`) — sum
    * the stats rows, rebuild `_termmeta`/`_docidx`, and COMMIT the whole
    * next layout as a [[graft.queue.VersionedDir]] snapshot (readers
    * resolve once per call and see whole-old or whole-new). The
    * watermark file rides the staged
    * root so a later replay of a folded batch is refused loudly by
    * [[appendBatch]] instead of double-counting. Cost: one store scan —
    * the offline maintenance pass that bounds serving's per-batch footer
    * tier. Single-maintainer like every mutating face; a concurrent
    * compact loses with [[graft.queue.ConcurrentWriterException]]. */
  def compact(spark: SparkSession, dir: String,
              headSize: Int = DefaultHeadSize): Unit = {
    val base = dir.stripSuffix("/")
    val prev = VersionedDir.resolve(java.nio.file.Paths.get(base))
    val root = prev.path.toString
    checkComplete(root)
    val batches = batchIds(root)
    require(batches.nonEmpty, s"postings store at $dir: nothing to compact")
    val watermark = math.max(batches.max, compactedThrough(root))
    val tmp = VersionedDir.stage(prev)
    // the global re-tier changes the tail set, so `_termmeta`'s tail
    // certificates must recompute from the FOLDED postings (never a sum of
    // the per-batch sidecars); one materialization feeds both writes
    val folded = readPostings(spark, root)
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"),
        col("positions"), col("tbucket"), tierCol(headSize).as("tier"))
      .localCheckpoint(true)
    folded
      .repartition(col("tbucket"))
      .sortWithinPartitions(col("tbucket"), col("tier"), col("tok"), col("doc_id"))
      .write.partitionBy("tbucket", "tier")
      .parquet(s"$tmp/ingest_batch=-1")
    termMetaFor(folded)
      .select(col("tok"), col("df"), col("tail_max_tf"), col("tail_min_dl"),
        bucketCol(col("tok")).as("tbucket"))
      .repartition(col("tbucket"))
      .sortWithinPartitions(col("tbucket"), col("tok"))
      .write.partitionBy("tbucket")
      .parquet(s"$tmp/_termmeta/ingest_batch=-1")
    blockMetaFor(folded)
      .select(col("tok"), col("blk_lo"), col("blk_hi"), col("blk_max_tf"),
        col("blk_min_dl"), bucketCol(col("tok")).as("tbucket"))
      .repartition(col("tbucket"))
      .sortWithinPartitions(col("tbucket"), col("tok"), col("blk_lo"))
      .write.partitionBy("tbucket")
      .parquet(s"$tmp/_blockmeta/ingest_batch=-1")
    readDocIdx(spark, root)
      .select(col("doc_id"), col("tbuckets"), col("dbucket"))
      .repartition(col("dbucket"))
      .sortWithinPartitions(col("dbucket"), col("doc_id"))
      .write.partitionBy("dbucket")
      .parquet(s"$tmp/_docidx/ingest_batch=-1")
    readStats(spark, root)
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("total_len")), lit(0L)).as("total_len"))
      .coalesce(1).write.parquet(s"$tmp/_stats/ingest_batch=-1")
    // tombstones ride the fold: a takedown must survive compaction, or
    // the first post-fold append replay could resurrect it
    val erased = erasedIds(spark, root)
    if (!erased.isEmpty)
      erased.coalesce(1).write.parquet(s"$tmp$ErasedDir")
    java.nio.file.Files.write(tmp.resolve(CompactMarker),
      watermark.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the format marker rides the fold UNCHANGED: a gen-4 source stays
    // gen-4 (compact preserves positions + blockmeta); a legacy source
    // stays marker-less (the fold cannot invent positions it never had)
    val fm = java.nio.file.Paths.get(root, FormatMarker)
    if (java.nio.file.Files.exists(fm))
      java.nio.file.Files.copy(fm, tmp.resolve(FormatMarker))
    // a FULL fold subsumes the leveled-fold registry: every id at or
    // below the watermark is refused by it already
    commitVersion(prev, tmp)
  }

  /** The commit [[compact]] and [[compactLevel]] share: publish the staged
    * layout through [[VersionedDir.commit]], then drop the flat layout
    * (version 0) once it is two generations stale. */
  private def commitVersion(prev: VersionedDir.Snapshot,
                            tmp: java.nio.file.Path): Unit =
    if (VersionedDir.commit(prev, tmp).version >= 2L) {
      StoreArtifacts.foreach(a => graft.queue.Maintenance.deleteRec(prev.root.resolve(a)))
      val s = java.nio.file.Files.list(prev.root)
      val batches = try s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("ingest_batch=")).toList
        finally s.close()
      batches.foreach(graft.queue.Maintenance.deleteRec)
    }

  /** LEVELED (incremental) compaction — the batch-count bound under
    * streaming ingest: every serving cost that is linear in committed
    * batch count (the head read's headSize · batches, the WAND driver
    * summary, the `_termmeta`/`_stats` fan-out, the per-batch footer
    * tier) degrades as micro-batches accumulate, and the only remedy
    * before this was [[compact]]'s full O(store) fold. `compactLevel`
    * instead folds only the SMALLEST committed batches — enough to bring
    * the count back to `maxBatches` — into one new batch, re-tiered
    * WITHIN the fold, with its `_stats`/`_termmeta`/`_blockmeta`/
    * `_docidx` recomputed from the folded postings; every untouched
    * batch's subtrees enter the next version as HARD LINKS (metadata
    * ops, zero data bytes — on a distributed store this step is a
    * manifest of unchanged files, the standard LSM discipline), so the
    * fold's write cost is proportional to the FOLDED bytes, never the
    * store. Folding smallest-first is the leveled invariant: batch sizes
    * grow geometrically across folds, so total write amplification over
    * an n-batch ingest is O(log n) rewrites per posting while the live
    * batch count stays ≤ maxBatches.
    *
    * Commit is [[compact]]'s version commit verbatim (whole-old or
    * whole-new to every reader; links make it cheap). The folded batch
    * lands under a fresh NEGATIVE id (below build's -1 — stream ids are
    * ≥ 0, so no collision ever), and the folded ORIGINAL ids enter the
    * `_folded` registry: a post-crash replay of a just-folded batch is
    * refused loudly by [[appendBatch]] (the [[compact]] watermark
    * semantics, as a set — a leveled fold picks smallest, not a prefix).
    * Safe against in-place mutation sharing: appends and erasures only
    * ever swap whole files/dirs (parquet never modifies in place), so a
    * linked file can never be changed under a retained older version.
    *
    * Returns true iff a fold ran (count > maxBatches); a no-op call is
    * free. Single-maintainer like every mutating face. */
  def compactLevel(spark: SparkSession, dir: String, maxBatches: Int = 8,
                   headSize: Int = DefaultHeadSize): Boolean = {
    require(maxBatches >= 2, "compactLevel: maxBatches must be >= 2")
    val base = dir.stripSuffix("/")
    val prev = VersionedDir.resolve(java.nio.file.Paths.get(base))
    val root = prev.path.toString
    checkComplete(root)
    val committed = committedBatches(root)
    if (committed.size <= maxBatches) return false
    def bytesOf(b: Long): Long =
      treeBytes(java.nio.file.Paths.get(s"$root/ingest_batch=$b"))
    val fold = committed.sortBy(b => (bytesOf(b), b))
      .take(committed.size - maxBatches + 1)
    val keep = committed.filterNot(fold.contains)
    val foldId = (committed :+ -1L).min - 1L
    val tmp = VersionedDir.stage(prev)
    java.nio.file.Files.createDirectories(tmp)
    // untouched batches: linked, never copied — the O(folded bytes) bound
    keep.foreach { b =>
      linkTree(java.nio.file.Paths.get(s"$root/ingest_batch=$b"),
        tmp.resolve(s"ingest_batch=$b"))
      Seq("_termmeta", "_docidx", "_blockmeta", "_stats").foreach { a =>
        val src = java.nio.file.Paths.get(s"$root/$a/ingest_batch=$b")
        if (java.nio.file.Files.exists(src))
          linkTree(src, tmp.resolve(a).resolve(s"ingest_batch=$b"))
      }
    }
    // the fold: re-tier within it (the folded batches' per-batch impact
    // cuts collapse into one per-fold cut — min(fold df, headSize) head
    // per term), sidecars recomputed from the folded postings
    val folded = readPostings(spark, root)
      .filter(col("ingest_batch").isInCollection(fold))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"),
        col("positions"), col("tbucket"), tierCol(headSize).as("tier"))
      .localCheckpoint(true)
    folded
      .repartition(col("tbucket"))
      .sortWithinPartitions(col("tbucket"), col("tier"), col("tok"), col("doc_id"))
      .write.partitionBy("tbucket", "tier")
      .parquet(s"$tmp/ingest_batch=$foldId")
    termMetaFor(folded)
      .select(col("tok"), col("df"), col("tail_max_tf"), col("tail_min_dl"),
        bucketCol(col("tok")).as("tbucket"))
      .repartition(col("tbucket"))
      .sortWithinPartitions(col("tbucket"), col("tok"))
      .write.partitionBy("tbucket")
      .parquet(s"$tmp/_termmeta/ingest_batch=$foldId")
    blockMetaFor(folded)
      .select(col("tok"), col("blk_lo"), col("blk_hi"), col("blk_max_tf"),
        col("blk_min_dl"), bucketCol(col("tok")).as("tbucket"))
      .repartition(col("tbucket"))
      .sortWithinPartitions(col("tbucket"), col("tok"), col("blk_lo"))
      .write.partitionBy("tbucket")
      .parquet(s"$tmp/_blockmeta/ingest_batch=$foldId")
    readDocIdx(spark, root)
      .filter(col("ingest_batch").isInCollection(fold))
      .select(col("doc_id"), col("tbuckets"), col("dbucket"))
      .repartition(col("dbucket"))
      .sortWithinPartitions(col("dbucket"), col("doc_id"))
      .write.partitionBy("dbucket")
      .parquet(s"$tmp/_docidx/ingest_batch=$foldId")
    readStats(spark, root)
      .filter(col("ingest_batch").isInCollection(fold))
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("total_len")), lit(0L)).as("total_len"))
      .coalesce(1).write.parquet(s"$tmp/_stats/ingest_batch=$foldId")
    // carried artifacts: tombstones, watermark, format, and the fold
    // registry grown by this fold's victims
    val erased = erasedIds(spark, root)
    if (!erased.isEmpty)
      erased.coalesce(1).write.parquet(s"$tmp$ErasedDir")
    val ct = compactedThrough(root)
    if (ct >= 0)
      java.nio.file.Files.write(tmp.resolve(CompactMarker),
        ct.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val fm = java.nio.file.Paths.get(root, FormatMarker)
    if (java.nio.file.Files.exists(fm))
      java.nio.file.Files.copy(fm, tmp.resolve(FormatMarker))
    val allFolded = (foldedBatches(root) ++ fold).toSeq.sorted
    java.nio.file.Files.write(tmp.resolve(FoldedMarker),
      allFolded.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    commitVersion(prev, tmp)
    true
  }

  /** Recreate `src` under `dst` with HARD LINKS per file (falls back to a
    * copy where the filesystem refuses links): [[compactLevel]]'s
    * zero-byte carry of untouched batches into the next version. Safe
    * because store files are immutable once written — every mutation
    * swaps whole directories. */
  private def linkTree(src: java.nio.file.Path,
                       dst: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(src)) {
      java.nio.file.Files.createDirectories(dst)
      val s = java.nio.file.Files.list(src)
      try {
        val it = s.iterator()
        while (it.hasNext) {
          val c = it.next()
          linkTree(c, dst.resolve(c.getFileName.toString))
        }
      } finally s.close()
    } else {
      java.nio.file.Files.createDirectories(dst.getParent)
      try java.nio.file.Files.createLink(dst, src)
      catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          java.nio.file.Files.copy(src, dst)
      }
    }
  }

  private def treeBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      try {
        var sum = 0L
        val it = s.iterator()
        while (it.hasNext) sum += treeBytes(it.next())
        sum
      } finally s.close()
    } else java.nio.file.Files.size(p)

  private val EraseMarker = "_erase_inflight"

  /** Takedown/GDPR erasure ([[IvfIndexStore.delete]]'s discipline over
    * the two-level layout): the erased documents' postings stop existing
    * — df shrinks (postings AND `_termmeta`), their dl leaves the corpus
    * stats — so serving after erasure is EXACTLY BM25 over the surviving
    * corpus (q127's gate). The locate resolves through the `_docidx`
    * sidecar — dbucket partition filter + pushed `In(doc_id)` over
    * doc_id-sorted files, O(touched leaves), never a store scan (the
    * poisoned-partition spec pins it). The erase then stages the
    * `_erase_inflight` intent marker (ids + touched leaves) BEFORE any
    * mutation, tombstones the ids in `_erased/` (future appends filter
    * them — see the object scaladoc), rewrites each touched leaf through
    * the rename-aside swap keeping the key sort (emptied leaves and
    * batches removed outright). Tier refill: the rewrite RE-TIERS the
    * survivors — each term's head refills to its original capacity (its
    * pre-erase tier-0 count), which is EXACTLY the fresh-build cut over
    * the survivors, so a head-hitting takedown cannot silently dent
    * tiered recall (the spec pins the equivalence; q134 hash-gates tiered
    * serving over an erased, uncompacted store). The refill is free: a
    * term's per-batch postings all live in one tbucket, so the cut is
    * leaf-local over rows the rewrite reads anyway. It then RECOMPUTES
    * each touched batch's `_termmeta`/`_blockmeta` partitions
    * and stats row from its surviving postings (exact by construction —
    * no delta bookkeeping to drift), scrubs the ids from `_docidx`, and
    * drops the marker last. A crash anywhere after the marker leaves it:
    * serving refuses loudly and the next call here COMPLETES the
    * recorded erase from the marker — tombstones included — before
    * starting its own; a crash before the marker mutated nothing (the
    * call did not return; the caller retries). Ids the committed-batch
    * locate does NOT find are still TOMBSTONED before the early return:
    * they may live in a torn append whose stats never committed, and its
    * replay must not resurrect the takedown. Idempotent: erased ids
    * match no rows. Returns postings rows removed. */
  def deleteDocs(spark: SparkSession, dir: String, docIds: Seq[Long]): Long = {
    require(docIds.nonEmpty, "postings erase: empty id list")
    val root = VersionedDir.resolveDir(dir)
    graft.queue.Maintenance.healAside(java.nio.file.Paths.get(root))
    recoverCrashedErase(spark, root)
    checkConsistent(root)
    // locate through the doc-keyed sidecar: O(touched leaves), not a scan
    val dbuckets = docIds.map(dbucketOf).distinct
    // the pushed-In cap applies here too: a takedown batch of thousands
    // must not stack-overflow the parquet Or chain — the range rewrite
    // still prunes over the doc_id-sorted docidx files
    val located = IncrementalContainment.withInPushdown(
      spark, idPushdown(docIds.size)) {
      readDocIdx(spark, root)
        .filter(col("ingest_batch").isInCollection(committedBatches(root)) &&
          col("dbucket").isInCollection(dbuckets) &&
          col("doc_id").isInCollection(docIds))
        .select(col("ingest_batch"), explode(col("tbuckets")).as("tbucket"))
        .distinct()
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    }
    if (located.isEmpty) {
      // tombstone even when the locate (restricted to COMMITTED batches)
      // finds nothing: the ids may live in a torn append whose stats never
      // committed — its replay must re-register only the survivors, so a
      // takedown filed during the crash window still sticks. Duplicates
      // are absorbed by the reader's distinct; nothing else to mutate.
      appendTombstones(spark, root, docIds)
      return 0L
    }
    val touchedBatches = located.map(_._1).distinct
    // removed count from the touched partitions only (partition-pruned)
    val removed = readPostings(spark, root)
      .filter(col("ingest_batch").isInCollection(touchedBatches) &&
        col("doc_id").isInCollection(docIds))
      .count()
    // intent marker FIRST: every mutation below is replayable from it,
    // including the tombstone append — so no crash window can leave a
    // mutation without a recovery record (r17 ADVICE: the old
    // tombstones-then-marker order had one)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, EraseMarker),
      (s"ids=${docIds.mkString(",")}\n" +
        s"leaves=${located.map(l => s"${l._1}:${l._2}").mkString(",")}\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    appendTombstones(spark, root, docIds)
    applyErase(spark, root, docIds, located)
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, EraseMarker))
    removed
  }

  /** Tombstone append, shared by the erase and its crash recovery:
    * re-run duplicates are absorbed by the reader's distinct. */
  private def appendTombstones(spark: SparkSession, root: String,
                               docIds: Seq[Long]): Unit = {
    import spark.implicits._
    docIds.toDF("doc_id").coalesce(1)
      .write.mode(SaveMode.Append)
      .parquet(root.stripSuffix("/") + ErasedDir)
  }

  /** The erase's mutation step, replayable from the intent marker: per
    * touched batch, ONE read of its touched leaves, one re-tier of the
    * survivors (a term's every posting in a batch lives in ONE tbucket —
    * the bucket is a function of the term — so the refill cut is
    * leaf-local), and one partitioned write each for the postings,
    * `_termmeta`, `_blockmeta` and `_docidx` leaves, each swapped in
    * leaf by leaf; then that batch's stats recompute. O(touched leaves)
    * I/O in a bounded number of Spark jobs per batch, however many leaves
    * a takedown touches (a document with hundreds of distinct terms
    * touches most of the 256 buckets, and each Spark job costs ~0.2 s of
    * scheduling).
    * Every swap is a rename-aside the recovery pass heals, and a replay
    * over partly swapped leaves converges: an already-erased leaf
    * re-tiers to itself. `root` must be resolved. */
  private def applyErase(spark: SparkSession, root: String, docIds: Seq[Long],
                         leaves: Seq[(Long, Int)]): Unit = {
    val base = root.stripSuffix("/")
    val dbuckets = docIds.map(dbucketOf).distinct.sorted
    leaves.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (b, ls) =>
      val batchDir = s"$base/ingest_batch=$b"
      val tbuckets = ls.map(_._2).distinct.sorted
      val live = tbuckets.filter(tb =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$batchDir/tbucket=$tb")))
      if (live.nonEmpty) {
        val all = spark.read.option("basePath", batchDir)
          .parquet(live.map(tb => s"$batchDir/tbucket=$tb"): _*)
          .select(col("tok"), col("doc_id"), col("tf"), col("dl"),
            col("positions"), col("tbucket").cast("int").as("tbucket"),
            col("tier").cast("int").as("tier"))
        // each term's head refills to its original capacity (pre-erase
        // tier-0 count = min(df, headSize)): EXACTLY the fresh-build cut
        // over the survivors, so a head-hitting takedown cannot silently
        // under-fill tiered recall
        val headCap = all.filter(col("tier") === 0)
          .groupBy(col("tok")).agg(count(lit(1)).as("head_cap"))
        val survivors = all
          .filter(!col("doc_id").isInCollection(docIds))
          .join(headCap, Seq("tok"), "left")
          .select(col("tok"), col("doc_id"), col("tf"), col("dl"),
            col("positions"), col("tbucket"),
            tierColCapped(coalesce(col("head_cap"), lit(0L))).as("tier"))
          .localCheckpoint(true) // feeds the postings AND both sidecars
        swapLeaves(batchDir, "tbucket", live,
          survivors.repartition(col("tbucket"))
            .sortWithinPartitions(col("tbucket"), col("tier"), col("tok"),
              col("doc_id")),
          "tier")
        // exact df + tail certificates, and the block certificates,
        // recomputed from the re-tiered survivors (recompute, never delta)
        swapLeaves(s"$base/_termmeta/ingest_batch=$b", "tbucket", tbuckets,
          termMetaFor(survivors)
            .select(col("tok"), col("df"), col("tail_max_tf"),
              col("tail_min_dl"), bucketCol(col("tok")).as("tbucket"))
            .repartition(col("tbucket"))
            .sortWithinPartitions(col("tbucket"), col("tok")))
        swapLeaves(s"$base/_blockmeta/ingest_batch=$b", "tbucket", tbuckets,
          blockMetaFor(survivors)
            .select(col("tok"), col("blk_lo"), col("blk_hi"),
              col("blk_max_tf"), col("blk_min_dl"),
              bucketCol(col("tok")).as("tbucket"))
            .repartition(col("tbucket"))
            .sortWithinPartitions(col("tbucket"), col("tok"), col("blk_lo")))
      } else {
        // replay after every touched postings leaf went: drop their
        // sidecar leaves too
        for (s <- Seq("_termmeta", "_blockmeta"); tb <- tbuckets)
          graft.queue.Maintenance.deleteRec(
            java.nio.file.Paths.get(s"$base/$s/ingest_batch=$b/tbucket=$tb"))
      }
      val dxDir = s"$base/_docidx/ingest_batch=$b"
      val dxLive = dbuckets.filter(d =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dxDir/dbucket=$d")))
      if (dxLive.nonEmpty)
        swapLeaves(dxDir, "dbucket", dxLive,
          spark.read.option("basePath", dxDir)
            .parquet(dxLive.map(d => s"$dxDir/dbucket=$d"): _*)
            .withColumn("dbucket", col("dbucket").cast("int"))
            .filter(!col("doc_id").isInCollection(docIds))
            .repartition(col("dbucket"))
            .sortWithinPartitions(col("dbucket"), col("doc_id")))
      recomputeBatchStats(spark, root, b)
    }
  }

  /** Replace the `key=<k>` leaves under `parent` named by `keys` with
    * `rows` (partitioned by `key`, then `subKeys`; already clustered and
    * sorted so each leaf lands as one file per sub-partition): one write
    * to a hidden sibling, then one rename-aside swap per leaf that
    * exists. A leaf `rows` leaves empty is removed outright, so partition
    * discovery never trips on a hollow dir; a missing leaf stays missing. */
  private def swapLeaves(parent: String, key: String, keys: Seq[Int],
                         rows: DataFrame, subKeys: String*): Unit = {
    val p = java.nio.file.Paths.get(parent)
    val targets = keys.map(k => p.resolve(s"$key=$k"))
      .filter(java.nio.file.Files.exists(_))
    if (targets.isEmpty) return
    val tmp = p.resolveSibling("." + p.getFileName.toString + ".swap")
    graft.queue.Maintenance.deleteRec(tmp)
    rows.write.partitionBy(key +: subKeys: _*).parquet(tmp.toString)
    targets.foreach { t =>
      val staged = tmp.resolve(t.getFileName)
      if (java.nio.file.Files.exists(staged))
        graft.queue.Maintenance.replaceDir(staged.toString, t.toString)
      else graft.queue.Maintenance.deleteRec(t)
    }
    graft.queue.Maintenance.deleteRec(tmp)
  }

  private def hasChildWithPrefix(p: java.nio.file.Path, prefix: String): Boolean = {
    if (!java.nio.file.Files.exists(p)) return false
    val s = java.nio.file.Files.list(p)
    try {
      var found = false
      val it = s.iterator()
      while (!found && it.hasNext)
        found = it.next().getFileName.toString.startsWith(prefix)
      found
    } finally s.close()
  }

  /** Rebuild one batch's `_stats` row from its SURVIVING postings — the
    * erase path's exactness rule (recompute, never delta: replaying it
    * after a crash converges, and the corpus stats cannot drift). Every
    * ingested document has at least one posting (the tokenizer emits at
    * least one token per document), so distinct `(doc_id, dl)` rebuilds
    * the row exactly. Removes an emptied batch and its stats, termmeta,
    * and docidx subtrees. */
  private def recomputeBatchStats(spark: SparkSession, root: String,
                                  b: Long): Unit = {
    val base = root.stripSuffix("/")
    val batchDir = java.nio.file.Paths.get(s"$base/ingest_batch=$b")
    val statsDir = s"$base/_stats/ingest_batch=$b"
    // emptied = no tbucket leaves left (the writer's _SUCCESS marker
    // does not keep a batch alive)
    if (!hasChildWithPrefix(batchDir, "tbucket=")) {
      graft.queue.Maintenance.deleteRec(batchDir)
      graft.queue.Maintenance.deleteRec(java.nio.file.Paths.get(statsDir))
      graft.queue.Maintenance.deleteRec(
        java.nio.file.Paths.get(s"$base/_termmeta/ingest_batch=$b"))
      graft.queue.Maintenance.deleteRec(
        java.nio.file.Paths.get(s"$base/_docidx/ingest_batch=$b"))
      graft.queue.Maintenance.deleteRec(
        java.nio.file.Paths.get(s"$base/_blockmeta/ingest_batch=$b"))
    } else {
      graft.queue.Maintenance.rewriteLeaf(statsDir,
        spark.read.parquet(batchDir.toString)
          .select(col("doc_id"), col("dl")).distinct()
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("dl")), lit(0L)).as("total_len"))
          .coalesce(1),
        Nil)
    }
  }

  /** Complete a crashed [[deleteDocs]] from its intent marker: heal the
    * touched leaves' and stats rows' swap asides, re-append the recorded
    * tombstones (idempotent — the reader distincts), replay the recorded
    * erase (a leaf already scrubbed rewrites to itself), recompute the
    * touched batches' stats, drop the marker. `root` must be resolved. */
  private def recoverCrashedErase(spark: SparkSession, root: String): Unit = {
    val marker = java.nio.file.Paths.get(root, EraseMarker)
    if (!java.nio.file.Files.exists(marker)) return
    val lines = new String(java.nio.file.Files.readAllBytes(marker),
      java.nio.charset.StandardCharsets.UTF_8).split("\n")
    def field(name: String): String = lines
      .find(_.startsWith(name + "=")).map(_.drop(name.length + 1)).getOrElse("")
    val ids = field("ids").split(",").filter(_.nonEmpty).map(_.toLong).toSeq
    val leaves = field("leaves").split(",").filter(_.nonEmpty).map { s =>
      val Array(b, tb) = s.split(":"); (b.toLong, tb.toInt)
    }.toSeq
    val base = root.stripSuffix("/")
    leaves.map(_._1).distinct.foreach { b =>
      // the erase swaps leaves only: their asides sit directly under
      // the batch dirs
      healAsidesUnder(java.nio.file.Paths.get(s"$base/ingest_batch=$b"))
      healAsidesUnder(java.nio.file.Paths.get(s"$base/_termmeta/ingest_batch=$b"))
      healAsidesUnder(java.nio.file.Paths.get(s"$base/_docidx/ingest_batch=$b"))
      healAsidesUnder(java.nio.file.Paths.get(s"$base/_blockmeta/ingest_batch=$b"))
      graft.queue.Maintenance.healAside(
        java.nio.file.Paths.get(s"$base/_stats/ingest_batch=$b"))
    }
    if (ids.nonEmpty) appendTombstones(spark, root, ids)
    if (ids.nonEmpty && leaves.nonEmpty) applyErase(spark, root, ids, leaves)
    java.nio.file.Files.delete(marker)
  }

  /** Heal every `.name.old` swap aside directly under `p`. */
  private def healAsidesUnder(p: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.exists(p)) return
    val s = java.nio.file.Files.list(p)
    try {
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = s.iterator()
      while (it.hasNext) {
        val name = it.next().getFileName.toString
        if (name.startsWith(".") && name.endsWith(".old"))
          names += name.stripPrefix(".").stripSuffix(".old")
      }
      names.foreach(n => graft.queue.Maintenance.healAside(p.resolve(n)))
    } finally s.close()
  }

  /** Streaming face: maintain the index from a document stream.
    * `compactEvery` folds ALL batches on cadence INSIDE the batch step —
    * see the compaction contract in the object scaladoc for the
    * post-crash replay semantics (refused loudly, never double-counted).
    * `levelMaxBatches` is the INCREMENTAL alternative: after each append,
    * [[compactLevel]] folds just enough smallest batches to hold the
    * committed count at the cap — O(folded bytes) per fold instead of
    * O(store), which is what keeps every batch-count-linear serving bound
    * flat under an unbounded stream. Same replay semantics (a replayed
    * folded batch is refused loudly via the `_folded` registry). */
  def sink(docStream: DataFrame, dir: String,
           idCol: String = "doc_id", textCol: String = "text",
           compactEvery: Int = 0, levelMaxBatches: Int = 0,
           headSize: Int = DefaultHeadSize): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, dir, batchId, idCol, textCol, headSize)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compact(batch.sparkSession, dir, headSize)
        if (levelMaxBatches > 0)
          compactLevel(batch.sparkSession, dir, levelMaxBatches, headSize)
        ()
    }

  // Battery-entry layouts (the IvfIndexStore.layoutFor discipline:
  // built once per (session, sfDir) per /tmp lifetime, marker-gated so a
  // warm /tmp re-run replays the ingest instead of duplicating it).
  // Path carries the layout-format generation ("postings4" = the r20
  // layout: positions + _blockmeta block-max certificates + _format
  // marker) so a warm /tmp from an earlier round can never serve a stale
  // format to a newer reader.

  private val layoutMemo =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String)]()

  private def layoutImpl(spark: SparkSession, sfDir: String,
                         variant: String)(seed: String => Unit): String = {
    // headSize is part of the persisted format — a warm /tmp layout cut
    // at a different head must rebuild, not serve
    val keyStr = s"$sfDir|$variant|h$DefaultHeadSize"
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(keyStr.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    val dir = "/tmp/graft-postings4/" + digest + "_" + variant + "_" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val key = (spark, keyStr)
    if (!layoutMemo.contains(key)) {
      val marker = java.nio.file.Paths.get(dir, "_built")
      if (!java.nio.file.Files.exists(marker)) {
        // a dir without its marker is a seed that died mid-way — the
        // erased variant's compact watermark would refuse a re-seed's
        // appends, so start over instead of resuming into a poisoned
        // layout
        graft.queue.Maintenance.deleteRec(java.nio.file.Paths.get(dir))
        seed(dir)
        java.nio.file.Files.createFile(marker)
      }
      layoutMemo.add(key)
    }
    dir
  }

  /** q126's store: the documents corpus ingested as THREE striped
    * micro-batches (doc_id % 3 — the q116 striping), so the hash-gated
    * serving path exercises multi-batch append + the stats rollup, not
    * just a bulk build. Single-threaded callers only. */
  def layoutFor(spark: SparkSession, sfDir: String): String =
    layoutImpl(spark, sfDir, "striped") { dir =>
      val docs = graft.Tables.documents(spark, sfDir)
      (0 to 2).foreach(b =>
        appendBatch(docs.filter(col("doc_id") % 3 === b), dir, b.toLong))
    }

  /** q127's store: the striped ingest, then the deterministic takedown
    * set (doc_id % 97 = 3 — a bounded request payload by contract)
    * erased, then a COMPACTION pass — so the hash gate covers erasure's
    * stats deltas AND the fold in one chain. Single-threaded callers
    * only. */
  def erasedLayoutFor(spark: SparkSession, sfDir: String): String =
    layoutImpl(spark, sfDir, "erased") { dir =>
      val docs = graft.Tables.documents(spark, sfDir)
      (0 to 2).foreach(b =>
        appendBatch(docs.filter(col("doc_id") % 3 === b), dir, b.toLong))
      import spark.implicits._
      val takedown = docs.filter(col("doc_id") % 97 === 3)
        .select(col("doc_id").cast("long")).as[Long].collect().toSeq
      deleteDocs(spark, dir, takedown)
      compact(spark, dir)
    }

  /** q134's store: the striped ingest with the deterministic takedown
    * (doc_id % 97 = 3) erased and NO compaction — tiered serving straight
    * over the erased batches, so the ERASE path's tier refill (not the
    * fold's global re-tier) is what the hash gate sees: the oracle
    * replays the per-stripe head cut over the SURVIVORS, which only
    * matches if the erase refilled each term's head to the fresh-build
    * cut. Single-threaded callers only. */
  def erasedTieredLayoutFor(spark: SparkSession, sfDir: String): String =
    layoutImpl(spark, sfDir, "erasednc") { dir =>
      val docs = graft.Tables.documents(spark, sfDir)
      (0 to 2).foreach(b =>
        appendBatch(docs.filter(col("doc_id") % 3 === b), dir, b.toLong))
      import spark.implicits._
      val takedown = docs.filter(col("doc_id") % 97 === 3)
        .select(col("doc_id").cast("long")).as[Long].collect().toSeq
      deleteDocs(spark, dir, takedown)
    }

  /** q137's store: the corpus ingested as SIX striped micro-batches with
    * [[compactLevel]] LEVELING MID-INGEST (after batches 3 and 5, cap 3)
    * — so the hash gate covers the leveled fold's whole surface: the
    * linked carry of untouched batches, the folded batch's re-tier and
    * recomputed sidecars, the version commit, and appends RESOLVING INTO
    * the new version after each fold. Serving is the exact both-tier
    * read, so the oracle is q126's VERBATIM (exact BM25 is fold-
    * invariant by construction — that is the gate). Single-threaded
    * callers only. */
  def leveledLayoutFor(spark: SparkSession, sfDir: String): String =
    layoutImpl(spark, sfDir, "leveled") { dir =>
      val docs = graft.Tables.documents(spark, sfDir)
      (0 to 5).foreach { b =>
        appendBatch(docs.filter(col("doc_id") % 6 === b), dir, b.toLong)
        if (b == 3 || b == 5)
          require(compactLevel(spark, dir, maxBatches = 3),
            s"leveled layout: fold after batch $b was a no-op")
      }
    }
}
