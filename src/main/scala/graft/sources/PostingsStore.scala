package graft.sources

import graft.operators.{Retrieval, TextAnalysis}
import graft.queue.{Maintenance, VersionedDir}
import graft.queue.VersionedDir.{Stage, commitNext}
import graft.streaming.{IncrementalContainment, RegistryIO}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
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
  * Layout of one snapshot (the occurrence-registry discipline of
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
  *   - `_docidx/ingest_batch=N/` — ONE file per batch of
  *     `(doc_id, tbuckets)` rows sorted by `doc_id`, recording which term
  *     buckets carry each ingested document's postings. Erasure's locate
  *     resolves here — a pushed `In(doc_id)` pruned by row-group min/max —
  *     and appends consult it as the cross-batch duplicate tripwire,
  *     pruned to the new batch's id range (contract below).
  *   - `_stats/ingest_batch=N/` — ONE `(n_docs, total_len)` row per
  *     batch (underscore-prefixed: invisible to postings scans). Serving
  *     sums this KB-scale relation for N and avgdl; a replayed batch
  *     replaces its own row, so corpus stats are derived state that
  *     cannot drift — the [[graft.streaming.IncrementalQualityCut]]
  *     rollup rule.
  *   - `_erased/` — the takedown tombstones (below).
  *   - `_compacted_through` — highest batch id folded by [[compact]];
  *     [[appendBatch]] REFUSES a batch at or below it (loud, not a
  *     silent double count).
  *   - `_folded` — the batch ids [[compactLevel]] has folded (a leveled
  *     fold picks the SMALLEST batches, not a prefix, so refusal needs
  *     the explicit set); same replay semantics as the watermark.
  *   - `_format` — the layout-generation marker: created only on a store
  *     with no batches and required before any append to a non-empty one,
  *     so its presence PROVES every batch carries positions + blockmeta
  *     ([[phraseTopK]]'s guard is one file-existence check, not a
  *     per-serve null scan).
  *
  * Commit model: that layout is ONE [[graft.queue.VersionedDir]] snapshot
  * `v<N>-<hex>/` under the store root, and every mutation — [[build]],
  * [[appendBatch]], [[deleteDocs]], [[compact]], [[compactLevel]], one
  * [[sink]] micro-batch — commits the next snapshot through the same
  * skeleton ([[graft.queue.VersionedDir.commitNext]]): resolve the base,
  * stage the whole next layout in a private dot-prefixed dir (untouched
  * files carried by HARD LINK — metadata ops, zero data bytes; new and
  * rewritten leaves written fresh), commit once. Nothing writes into a
  * committed snapshot, so every snapshot is immutable: each serving face
  * resolves ONCE per call and reads only that dir, and a commit racing it
  * is whole-old or whole-new. Every batch of a snapshot is committed, so no
  * serve needs a completeness gate, and a crash at any step leaves the old
  * snapshot plus stage dirs that retention sweeps — there is no repair
  * step. Retention keeps every snapshot for [[VersionedDir.ReaderGraceMs]]
  * after a commit supersedes it, however many commits follow: a serve, or a
  * serve DataFrame collected later, reads its snapshot for that long. Past
  * the grace the snapshot is swept, and a read of it fails loudly rather
  * than reading it as empty. A root holding a flat layout (data beside no
  * `_log`, from a writer older than snapshot commits) is refused by every
  * mutation: rebuild it.
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
  * replayed batch replaces its own subtrees and `_stats` row).
  * Cross-batch doc-id uniqueness is an explicit caller contract: a doc_id
  * may appear in at most ONE batch id (re-emitting an updated document
  * under a new batch would double-count its postings into df, the corpus
  * stats, and every bm25 sum). [[appendBatch]] enforces it by probing the
  * base's `_docidx` with the staged batch's ids before the commit, and
  * REFUSES loudly on violation (`checkDupIds = false` skips the probe for
  * callers with an upstream uniqueness guarantee). A batch folded by
  * [[compact]] or [[compactLevel]] is refused on replay rather than
  * double-counted. The [[sink]] commits each micro-batch — the append and
  * whatever fold falls due — as one snapshot stamped with the stream's
  * batch id, so the replay of a micro-batch whose commit landed before a
  * crash commits nothing, folded or not.
  *
  * Takedowns: erased ids land in the `_erased/` TOMBSTONE registry
  * consulted by every append: an upstream replay of a pre-erase batch
  * re-registers only the survivors, so a checkpoint replay cannot
  * resurrect a takedown. This is deliberately stronger than the dedup
  * registries' "novel again" erase semantics
  * ([[graft.streaming.IncrementalContainment.deleteDocs]]): a SERVING
  * store must not let a replay undo a legal takedown, so the tombstones
  * filter every future append until the takedown is lifted by clearing
  * `_erased/`. A takedown whose locate finds nothing still commits its
  * tombstones: the ids may belong to a crashed append whose replay is
  * still to come. The tombstone set is takedown-request-sized by
  * contract, broadcast-joined at append.
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
    "doc_id BIGINT, tbuckets ARRAY<INT>, ingest_batch BIGINT")

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
      .digest(term.getBytes(StandardCharsets.UTF_8))
    d(0) & 0xff
  }

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
    * survivors: min(surviving df, headSize). Cut per (batch, term). */
  private def tierColCapped(capCol: Column): Column = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("ingest_batch"), col("tok")).orderBy(
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

  /** The `_termmeta` rows of TIERED postings, per (batch, term): the exact df
    * plus the tail BOUND CERTIFICATES ([[bm25TopKWand]]'s substrate) —
    * max tf and min dl over the tier-1 postings, null when the term has
    * no tail. The BM25 contribution is monotone UP in tf and DOWN in dl,
    * so `contrib(tail_max_tf, tail_min_dl)` evaluated at the serve-time
    * (df, N, avgdl) upper-bounds every tail posting's contribution —
    * a valid max-score certificate no matter how appends move avgdl. */
  private def termMetaFor(tiered: DataFrame): DataFrame =
    tiered.groupBy(col("ingest_batch"), col("tok")).agg(
      count(lit(1)).as("df"),
      max(when(col("tier") === 1, col("tf"))).as("tail_max_tf"),
      min(when(col("tier") === 1, col("dl"))).as("tail_min_dl"))

  /** The `_blockmeta` rows of tiered postings: per (batch, term,
    * [[TailBlockSize]]-row block of the doc_id-sorted tail), the block's
    * id range and its max-score certificate inputs (max tf, min dl) — the
    * per-block refinement of [[termMetaFor]]'s per-batch tail bound.
    * Blocks partition the tail COMPLETELY (every tier-1 posting falls in
    * exactly one block), which is what makes "no block covers doc d" a
    * PROOF that d has no tail posting for the term — the strongest bound
    * of all (zero), and the one the outlier-adversary spec leans on. */
  private def blockMetaFor(tiered: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("ingest_batch"), col("tok")).orderBy(col("doc_id"))
    tiered.filter(col("tier") === 1)
      .select(col("ingest_batch"), col("tok"), col("doc_id"), col("tf"), col("dl"))
      .withColumn("blk",
        ((row_number().over(w) - 1) / lit(TailBlockSize)).cast("long"))
      .groupBy(col("ingest_batch"), col("tok"), col("blk"))
      .agg(min(col("doc_id")).as("blk_lo"), max(col("doc_id")).as("blk_hi"),
        max(col("tf")).as("blk_max_tf"), min(col("dl")).as("blk_min_dl"))
      .drop("blk")
  }

  /** On-disk format generation this writer produces: 4 = delta-encoded
    * positions + `_termmeta` tail certificates + `_blockmeta` block-max
    * sidecar + the `_format` marker itself. The marker is the
    * LAYOUT-TRUST contract: it exists iff EVERY batch in the store was
    * written by a gen-4 writer ([[stageBatch]] creates it only on a
    * store with no batches and REFUSES to append to a marker-less one),
    * so [[phraseTopK]] can trust the positions column without scanning
    * for nulls (the r19 guard paid a full probe pass on every serve) and
    * a pre-positions store is refused loudly instead of serving silently
    * empty adjacency. */
  private val FormatGen = 4
  private val FormatMarker = "_format"

  private def hasFormatMarker(root: String): Boolean =
    Files.exists(Paths.get(root, FormatMarker))

  /** The full-fold watermark: the highest batch id [[compact]] folded. */
  private val CompactMarker = "_compacted_through"

  private def compactedThrough(root: String): Long = {
    val m = Paths.get(root, CompactMarker)
    if (Files.exists(m))
      new String(Files.readAllBytes(m), StandardCharsets.UTF_8).trim.toLong
    else -1L
  }

  /** The leveled-compaction fold registry: batch ids folded by
    * [[compactLevel]] (one id per line). Unlike [[compact]]'s single
    * watermark, a leveled fold picks the SMALLEST batches — not a prefix —
    * so replay refusal needs the explicit set. */
  private val FoldedMarker = "_folded"

  private def foldedBatches(root: String): Set[Long] = {
    val m = Paths.get(root, FoldedMarker)
    if (!Files.exists(m)) Set.empty
    else new String(Files.readAllBytes(m), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).map(_.toLong).toSet
  }

  /** Bulk build — batch -1 of the layout [[appendBatch]] appends into
    * (streaming batch ids start at 0, the [[IvfIndexStore.build]]
    * convention), so no append can collide with it. Fresh roots only. */
  def build(docs: DataFrame, dir: String,
            idCol: String = "doc_id", textCol: String = "text",
            headSize: Int = DefaultHeadSize): Unit = {
    require(VersionedDir.resolve(Paths.get(dir.stripSuffix("/"))).version == 0L,
      s"postings store at $dir already has data - append or compact instead")
    commitNext(dir) { s => stageBatch(docs, s, -1L, idCol, textCol, headSize); true }
  }

  /** One micro-batch append, committed as the next snapshot: postings
    * under `ingest_batch=N/tbucket=B/tier=T` (key-sorted files), the
    * batch's `_termmeta`, `_blockmeta` and `_docidx` partitions and its
    * `_stats` row; every other batch is carried by link. A replay
    * replaces its own batch, so it is idempotent. Refuses a batch id at
    * or below the compaction watermark or in the leveled-fold registry —
    * a replayed already-folded batch must not double its documents'
    * postings — and, unless `checkDupIds = false`, a batch carrying a
    * doc_id already ingested under a DIFFERENT batch (the cross-batch
    * uniqueness contract in the object scaladoc). */
  def appendBatch(docs: DataFrame, dir: String, batchId: Long,
                  idCol: String = "doc_id", textCol: String = "text",
                  headSize: Int = DefaultHeadSize,
                  checkDupIds: Boolean = true): Unit = {
    require(batchId >= 0, "appendBatch: batch ids are >= 0 (build uses -1)")
    commitNext(dir)(stageAppend(docs, dir, batchId, idCol, textCol, headSize,
      checkDupIds))
  }

  /** [[appendBatch]]'s stage step, which a [[sink]] micro-batch runs too:
    * the replay gates, the staged batch, then the duplicate tripwire
    * against the base before anything commits. */
  private def stageAppend(docs: DataFrame, dir: String, batchId: Long,
                          idCol: String, textCol: String, headSize: Int,
                          checkDupIds: Boolean)(s: Stage): Boolean = {
    require(batchId > compactedThrough(s.src),
      s"postings store at $dir: batch $batchId was already folded by " +
        "compact() - replaying it would double-count its documents; " +
        "resolve the stream checkpoint instead")
    require(!foldedBatches(s.src).contains(batchId),
      s"postings store at $dir: batch $batchId was already folded by " +
        "compactLevel() - replaying it would double-count its documents; " +
        "resolve the stream checkpoint instead")
    val range = stageBatch(docs, s, batchId, idCol, textCol, headSize)
    if (checkDupIds) range.foreach(refuseDupIds(docs.sparkSession, s, batchId, _, dir))
    true
  }

  /** The cross-batch uniqueness tripwire on a STAGED batch: the base's
    * `_docidx` rows inside the new batch's `[lo, hi]` doc_id range (a
    * pushed range over the doc_id-sorted files, so row groups outside it
    * never decompress) joined against the staged batch's ids. A refusal
    * commits nothing; its stage dir is swept by retention. */
  private def refuseDupIds(spark: SparkSession, s: Stage, batchId: Long,
                           range: (Long, Long), dir: String): Unit = {
    val clash = readDocIdx(spark, s.src)
      .filter(col("ingest_batch") =!= batchId &&
        col("doc_id").between(range._1, range._2))
      .join(broadcast(spark.read.schema("doc_id BIGINT")
        .parquet(s"${s.dst}/_docidx/ingest_batch=$batchId")), Seq("doc_id"))
      .select(col("doc_id"), col("ingest_batch"))
      .limit(5).collect()
    require(clash.isEmpty,
      s"postings store at $dir: batch $batchId re-ingests doc ids " +
        s"already registered under other batches (e.g. ${clash.map(r =>
          s"${r.getLong(0)} in batch ${r.getLong(1)}").mkString(", ")}) - " +
        "cross-batch doc-id uniqueness is the append contract; erase the " +
        "old rows first or pass checkDupIds = false if uniqueness is " +
        "guaranteed upstream. If this batch is the REPLAY of a crashed " +
        "append whose documents were since committed under the listed " +
        "batches, the store already carries them: drop those documents " +
        "from the replayed batch, or advance the stream checkpoint past " +
        s"batch $batchId")
  }

  private val ErasedDir = "_erased"

  /** Stage batch `batchId` of `docs` into `s`: every other batch carried
    * from `s.src`, the tombstoned ids filtered out, then the batch's
    * postings, sidecars and stats written fresh — plus the `_format`
    * marker on a store with no batches yet. Returns the batch's doc_id
    * range, None when it holds no document. */
  private def stageBatch(docs: DataFrame, s: Stage, batchId: Long,
                         idCol: String, textCol: String,
                         headSize: Int): Option[(Long, Long)] = {
    require(headSize >= 1, "postings store: headSize must be positive")
    s.carry(batchRels(batchId))
    // the format-trust contract: the marker is created only on a store
    // with no batches, so its presence proves EVERY batch was written by a
    // gen-4 (positions + blockmeta) writer — a marker-less store with data
    // predates the layout and appending would mix formats (phrase serving
    // over the legacy rows' null positions would be silently empty; WAND
    // over missing blockmeta degrades). Loud, with the heal path named.
    if (!hasFormatMarker(s.src)) {
      require(batchIds(s.src).isEmpty,
        s"postings store at ${s.src} predates the gen-$FormatGen layout " +
          "(no _format marker beside committed batches) - appending would " +
          "mix on-disk formats; rebuild the store from its corpus on the " +
          "current layout instead")
      writeMarker(s.dst, FormatMarker, FormatGen.toString)
    }
    // the tombstone gate: a replayed pre-erase batch re-registers only
    // the survivors (takedown-request-sized broadcast by contract)
    val live = docs.join(
      broadcast(erasedIds(docs.sparkSession, s.src)
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
        col("positions"), lit(batchId).as("ingest_batch"),
        bucketCol(col("tok")).as("tbucket"), tierCol(headSize).as("tier"))
      .localCheckpoint(true) // feeds postings, sidecars, docidx, stats once
    writeTiered(tiered, s.dst)
    val range = writeDocIdx(tiered.groupBy(col("ingest_batch"), col("doc_id"))
      .agg(sort_array(collect_set(col("tbucket"))).as("tbuckets")), s.dst)
    writeStats(tiered.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_len"))
      .withColumn("ingest_batch", lit(batchId)), s.dst)
    range
  }

  /** Write tiered postings and their two term-keyed sidecars into the
    * stage `dst`, beside whatever it carries, each leaf clustered by
    * (batch, term bucket) and key-sorted: postings by `(tok, doc_id)` —
    * tok runs give the In(tok) row-group pruning, and WITHIN a run doc_id
    * footer stats give the WAND candidate fetch its In(doc_id) pruning.
    * The rows name their `ingest_batch`, so one write serves one batch
    * (append, fold) or many (an erase's touched batches). */
  private def writeTiered(tiered: DataFrame, dst: Path): Unit = {
    def write(rows: DataFrame, sub: String, leaf: Seq[String], sortCols: String*): Unit =
      rows.repartition(col("ingest_batch"), col("tbucket"))
        .sortWithinPartitions((Seq("ingest_batch", "tbucket") ++ leaf ++ sortCols).map(col): _*)
        .write.mode(SaveMode.Append).partitionBy(Seq("ingest_batch", "tbucket") ++ leaf: _*)
        .parquet(s"$dst$sub")
    write(tiered, "", Seq("tier"), "tok", "doc_id")
    write(blockMetaFor(tiered).withColumn("tbucket", bucketCol(col("tok"))),
      "/_blockmeta", Nil, "tok", "blk_lo")
    write(termMetaFor(tiered).withColumn("tbucket", bucketCol(col("tok"))),
      "/_termmeta", Nil, "tok")
  }

  /** `_docidx` from `(ingest_batch, doc_id, tbuckets)` rows: ONE file per
    * batch sorted by doc_id, so row-group min/max prune a pushed
    * `In(doc_id)` or id range. Returns the rows' doc_id range, observed on
    * the write. */
  private def writeDocIdx(rows: DataFrame, dst: Path): Option[(Long, Long)] = {
    val range = Observation()
    rows.select(col("ingest_batch"), col("doc_id"), col("tbuckets"))
      .observe(range, min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .repartition(col("ingest_batch"))
      .sortWithinPartitions(col("ingest_batch"), col("doc_id"))
      .write.mode(SaveMode.Append).partitionBy("ingest_batch")
      .parquet(s"$dst/_docidx")
    val m = range.get
    Option(m("lo")).map(lo => (lo.asInstanceOf[Long], m("hi").asInstanceOf[Long]))
  }

  /** `_stats` rows `(ingest_batch, n_docs, total_len)`, one per batch. */
  private def writeStats(rows: DataFrame, dst: Path): Unit =
    rows.select(col("ingest_batch"), col("n_docs"), col("total_len"))
      .coalesce(1).write.mode(SaveMode.Append).partitionBy("ingest_batch")
      .parquet(s"$dst/_stats")
  /** One layout dir of the resolved snapshot `root` (`sub` = "" for the
    * postings) under its declared schema ([[RegistryIO]] rules). A
    * snapshot that a later commit swept is GONE, and reading it as an
    * empty store would rank against empty stats without a word — so a
    * missing `root` throws instead. */
  private def readLayout(spark: SparkSession, root: String, sub: String,
                         schema: StructType, prefix: Option[String]): DataFrame = {
    require(Files.isDirectory(Paths.get(root)),
      s"postings store snapshot $root is gone (swept by a later commit, " +
        "or never written) - resolve the store again")
    RegistryIO.readOrEmpty(spark,
      if (sub.isEmpty) root else s"${root.stripSuffix("/")}/$sub", schema, prefix)
  }

  private[sources] def readPostings(spark: SparkSession, root: String): DataFrame =
    readLayout(spark, root, "", postingsSchema, Some("ingest_batch="))

  private[sources] def readStats(spark: SparkSession, root: String): DataFrame =
    readLayout(spark, root, "_stats", statsSchema, Some("ingest_batch="))

  private[sources] def readTermMeta(spark: SparkSession, root: String): DataFrame =
    readLayout(spark, root, "_termmeta", termMetaSchema, Some("ingest_batch="))

  private[sources] def readDocIdx(spark: SparkSession, root: String): DataFrame =
    readLayout(spark, root, "_docidx", docIdxSchema, Some("ingest_batch="))

  private[sources] def readBlockMeta(spark: SparkSession, root: String): DataFrame =
    readLayout(spark, root, "_blockmeta", blockMetaSchema, Some("ingest_batch="))

  /** The takedown tombstone registry: one `doc_id` row per erased id
    * (each erase adds one file; readers distinct). Appends consult it —
    * see the object scaladoc. */
  private[sources] def erasedIds(spark: SparkSession, root: String): DataFrame =
    readLayout(spark, root, ErasedDir, StructType.fromDDL("doc_id BIGINT"), None)
      .distinct()

  /** The probe scan, pre-aggregation — package-private so the spec can
    * pin its PLAN: `tbucket` literals in PartitionFilters (≤ |terms| of
    * 256 buckets) and the key set as an `In(tok, …)` of eq leaves in
    * PushedFilters (row-group tier over the key-sorted files). Reads BOTH
    * tiers — the exact-serving probe. `root` is the serve's resolved
    * snapshot: every relation a serve touches comes from that one
    * immutable dir, so a commit mid-serve is whole-visible or
    * whole-invisible. */
  private[sources] def probe(spark: SparkSession, root: String,
                             terms: Seq[String]): DataFrame = {
    val buckets = terms.map(bucketOf).distinct
    readPostings(spark, root)
      .filter(col("tbucket").isInCollection(buckets) &&
        col("tok").isInCollection(terms))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
  }

  /** The TIERED probe: tier 0 only — per term per batch, at most
    * `headSize` postings regardless of df. The tier literal lands in
    * PartitionFilters beside the buckets, so a stop-word term's tail is
    * never listed, let alone read (the spec poisons a tail leaf to pin
    * it). `root` must be resolved. */
  private[sources] def probeHead(spark: SparkSession, root: String,
                                 terms: Seq[String]): DataFrame = {
    val buckets = terms.map(bucketOf).distinct
    readPostings(spark, root)
      .filter(col("tbucket").isInCollection(buckets) &&
        col("tier") === 0 && col("tok").isInCollection(terms))
      // ingest_batch is a partition column (free to carry): the WAND
      // block-max refinement keys a doc's tail bounds by ITS batch (the
      // cross-batch uniqueness contract pins each doc to exactly one)
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"),
        col("ingest_batch"))
  }

  /** The corpus stats `(n_docs, total_len)`: the KB-scale `_stats` sum. */
  private def pinnedStats(spark: SparkSession, root: String): DataFrame =
    readStats(spark, root)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_len")).as("total_len"))

  /** The rows of a term-keyed sidecar (`read` = [[readTermMeta]] or
    * [[readBlockMeta]]) for `terms`: the terms' buckets as partition
    * literals, the terms a pushed `In`. Handed to `use` inside the
    * In-pushdown scope, so whatever `use` materializes prunes row groups
    * by term. */
  private def pinnedByTerm[T](read: (SparkSession, String) => DataFrame,
                              spark: SparkSession, root: String,
                              terms: Seq[String])
                             (use: DataFrame => T): T =
    IncrementalContainment.withInPushdown(spark, math.max(terms.size, 10)) {
      use(read(spark, root)
        .filter(col("tbucket").isInCollection(terms.map(bucketOf).distinct) &&
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
    val root = VersionedDir.resolveDir(dir)
    Retrieval.bm25Rank(
      servingScored(spark, root, terms, k1, b)
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
    val root = VersionedDir.resolveDir(dir)
    Retrieval.bm25Rank(
      prunedScored(spark, root, terms, k1, b)
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
    val root = VersionedDir.resolveDir(dir)
    rankPerQuery(prunedScored(spark, root, termsOf(request), k1, b),
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
    * Package-private so the spec can pin the plan. `root` resolved. */
  private[sources] def probeTail(spark: SparkSession, root: String,
                                 term: String, docIds: Seq[Long]): DataFrame =
    probeTailAll(spark, root, term)
      .filter(col("doc_id").isInCollection(docIds))

  /** One term's WHOLE tail — the WAND fallback for the tail terms of a
    * query whose certificates cannot exclude unseen documents (only that
    * query's terms degrade, never the whole serve). Same partition bounds
    * as [[probeTail]] minus the id restriction. */
  private def probeTailAll(spark: SparkSession, root: String,
                           term: String): DataFrame =
    readPostings(spark, root)
      .filter(col("tbucket") === bucketOf(term) && col("tier") === 1 &&
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
    val root = VersionedDir.resolveDir(dir)
    // metadata FIRST (KB-scale): the dispatch decision must not cost a
    // head probe when the answer is "no certificates needed at all"
    val meta = pinnedByTerm(readTermMeta, spark, root, terms)(
      _.localCheckpoint(true))
    val score = Scorer(dfOf(meta), pinnedStats(spark, root), k1, b)
    val tailUB: Map[String, Long] =
      score(meta.filter(col("tail_max_tf").isNotNull)
        .select(col("tok"), col("tail_max_tf").as("tf"),
          col("tail_min_dl").as("dl")), "tok")
        .groupBy(col("tok")).agg(max(col("contrib_q")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def exactServe(diag: WandDiag): (DataFrame, WandDiag) =
      (servingScored(spark, root, terms, k1, b), diag)
    if (tailUB.isEmpty)
      return exactServe(WandDiag(dispatchedExact = true,
        exactFallback = false, headRows = 0L, tailTerms = 0,
        candidateRows = 0L, blockRefined = false))
    val headScored = IncrementalContainment.withInPushdown(
      spark, math.max(terms.size, 10)) {
      score(probeHead(spark, root, terms),
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
          tailUB.keys.toSeq.sorted)(_.localCheckpoint(true))
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
      fullTails.toSeq.sorted.map(t => probeTailAll(spark, root, t)) ++
        (if (candTerms.isEmpty) Nil
        else Seq(IncrementalContainment.withInPushdown(
          spark, idPushdown(candTerms.map(candByTerm(_).size).max)) {
          candTerms.map { t =>
            probeTail(spark, root, t, candByTerm(t).toSeq.sorted)
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
    * when pruning engages) — and the stats. Returns
    * `(tok, doc_id, contrib_q)` over the resolved snapshot `root`. */
  private def prunedScored(spark: SparkSession, root: String,
                           terms: Seq[String],
                           k1: Double, b: Double): DataFrame = {
    val matched = IncrementalContainment.withInPushdown(
      spark, math.max(terms.size, 10)) {
      probeHead(spark, root, terms).localCheckpoint(true)
    }
    val dfs = pinnedByTerm(readTermMeta, spark, root, terms)(
      m => dfOf(m).localCheckpoint(true))
    Scorer(dfs, pinnedStats(spark, root), k1, b)(
      matched, "tok", "doc_id")
  }

  /** The serving assembly the single and batched EXACT serves share
    * (the `Retrieval.bm25ContribQ` rule one level up — the two read paths
    * must not drift apart): the pruned probe over `terms` (one snapshot
    * feeds the df count and the scorer; parquet's In pushdown must not
    * rewrite the key set to a useless min/max range past the default
    * threshold — the containment-probe rule), per-term df counted from
    * the matched postings, the stats. Returns
    * `(tok, doc_id, contrib_q)` over the resolved snapshot `root`. */
  private def servingScored(spark: SparkSession, root: String,
                            terms: Seq[String],
                            k1: Double, b: Double): DataFrame = {
    val matched = IncrementalContainment.withInPushdown(
      spark, math.max(terms.size, 10)) {
      probe(spark, root, terms).localCheckpoint(true)
    }
    Scorer(matched.groupBy(col("tok")).agg(count(lit(1)).as("df")),
      pinnedStats(spark, root), k1, b)(matched, "tok", "doc_id")
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
    val root = VersionedDir.resolveDir(dir)
    rankPerQuery(servingScored(spark, root, termsOf(request), k1, b),
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
    val root = VersionedDir.resolveDir(dir)
    requirePositionalFormat(root, dir)
    phraseMatches(spark, root, phrase, slop, seedMaxDf)
      .orderBy(col("phrase_tf").desc, col("doc_id"))
      .limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("phrase_tf").desc, col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("phrase_tf"))
  }

  /** Layout guard (replaces the r19 per-serve null scan — ADVICE'd as an
    * extra full action over every probe): the `_format` marker exists iff
    * every batch was written by a positional-layout writer
    * ([[stageBatch]] creates it only on a store with no batches and
    * refuses to append to a marker-less store with data), so one file-existence
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
    * resolved, format-checked by the caller. */
  private def phraseMatches(spark: SparkSession, root: String,
                            phrase: Seq[String], slop: Int,
                            seedMaxDf: Long): DataFrame = {
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
      pinnedByTerm(readTermMeta, spark, root, terms)(
        m => dfOf(m).collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    if (terms.exists(t => metaDf.getOrElse(t, 0L) == 0L))
      // a slot term absent from the corpus: no document can match
      return spark.emptyDataFrame.select(
        lit(0L).as("doc_id"), lit(0L).as("phrase_tf")).limit(0)
    val seed = terms.sortBy(t => (metaDf(t), t)).head
    val probed = (if (metaDf(seed) <= seedMaxDf) {
      val seedRows = IncrementalContainment.withInPushdown(spark, 10) {
        probePositions(spark, root, Seq(seed)).localCheckpoint(true)
      }
      val ids = seedRows.select(col("doc_id")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted // ≤ seed df by contract
      val others = terms.filterNot(_ == seed)
      if (others.isEmpty || ids.isEmpty) seedRows
      else IncrementalContainment.withInPushdown(spark, idPushdown(ids.size)) {
        seedRows.unionByName(
          probePositionsForDocs(spark, root, others, ids))
          .localCheckpoint(true)
      }
    } else IncrementalContainment.withInPushdown(
      spark, math.max(terms.size, 10)) {
      probePositions(spark, root, terms).localCheckpoint(true)
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
    val root = VersionedDir.resolveDir(dir)
    requirePositionalFormat(root, dir)
    val matches = phraseMatches(spark, root, phrase, slop, seedMaxDf)
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
      pinnedByTerm(readTermMeta, spark, root, scoring)(
        m => dfOf(m).localCheckpoint(true)),
      pinnedStats(spark, root), k1, b)
    val probed =
      if (candIds.size <= seedMaxDf)
        IncrementalContainment.withInPushdown(spark, idPushdown(candIds.size)) {
          probe(spark, root, scoring)
            .filter(col("doc_id").isInCollection(candIds))
            .localCheckpoint(true)
        }
      else // candidate list past the driver-payload bound: full probe +
        // semi-join (the phrase probe's own fallback rule)
        IncrementalContainment.withInPushdown(
          spark, math.max(scoring.size, 10)) {
          probe(spark, root, scoring)
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
                                             docIds: Seq[Long]): DataFrame =
    probePositions(spark, root, terms)
      .filter(col("doc_id").isInCollection(docIds))

  /** The phrase probe: both tiers of the terms' buckets with positions
    * DECODED to absolute offsets — package-private so the spec can pin
    * the plan (bucket partition literals + pushed `In(tok)`). `root`
    * resolved. */
  private[sources] def probePositions(spark: SparkSession, root: String,
                                      terms: Seq[String]): DataFrame = {
    val buckets = terms.map(bucketOf).distinct
    readPostings(spark, root)
      .filter(col("tbucket").isInCollection(buckets) &&
        col("tok").isInCollection(terms))
      .select(col("tok"), col("doc_id"),
        decodePositions(col("positions")).as("abs_pos"))
  }

  /** The batch ids of a layout: one `_stats` row per batch, an empty batch
    * included. Every batch of a snapshot is committed whole. */
  private def batchIds(root: String): Set[Long] = {
    val p = Paths.get(root, "_stats")
    if (!Files.isDirectory(p)) Set.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case BatchRel(b) => b.toLong }.toSet
      finally s.close()
    }
  }

  /** A batch's subtree in the postings (`ingest_batch=N`) or in a sidecar
    * (`_stats/ingest_batch=N`), as a path relative to a layout root. */
  private val BatchRel = """(?:_[a-z]+/)?ingest_batch=(-?\d+)""".r

  /** Every subtree of batch `b`, relative to a layout root. */
  private def batchRels(b: Long): Set[String] =
    (Seq("") ++ Seq("_termmeta", "_blockmeta", "_docidx", "_stats").map(_ + "/"))
      .map(d => s"${d}ingest_batch=$b").toSet

  /** Write marker `name` into the stage `dst` as a NEW file — never
    * through a carried link, whose inode a committed snapshot shares. */
  private def writeMarker(dst: Path, name: String, body: String): Unit =
    Files.write(dst.resolve(name), body.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE_NEW)

  /** Fold every batch into one `ingest_batch=-1` layout — re-sorted by
    * key and RE-TIERED globally (the per-batch impact cuts collapse into
    * one corpus-wide cut, so a long-lived store's head tier is the
    * `headSize` best postings per term, not `headSize · batches`) — sum
    * the stats rows, rebuild `_termmeta`/`_blockmeta`/`_docidx`, and
    * commit the next snapshot. Tombstones and the format marker are
    * carried; the watermark file records the highest folded id, so a
    * later replay of a folded batch is refused loudly by [[appendBatch]]
    * instead of double-counting. Cost: one store scan — the offline
    * maintenance pass that bounds serving's per-batch footer tier. */
  def compact(spark: SparkSession, dir: String,
              headSize: Int = DefaultHeadSize): Unit =
    commitNext(dir)(stageCompact(spark, _, headSize, dir))

  private def stageCompact(spark: SparkSession, s: Stage, headSize: Int,
                           dir: String): Boolean = {
    val batches = batchIds(s.src)
    require(batches.nonEmpty, s"postings store at $dir: nothing to compact")
    // a FULL fold subsumes the leveled-fold registry: every id at or
    // below the watermark is refused by it already
    s.carry(rel => BatchRel.matches(rel) || rel == CompactMarker || rel == FoldedMarker)
    foldInto(spark, s, batches.toSeq.sorted, -1L, headSize)
    writeMarker(s.dst, CompactMarker,
      math.max(batches.max, compactedThrough(s.src)).toString)
    true
  }

  /** LEVELED (incremental) compaction — the batch-count bound under
    * streaming ingest: every serving cost that is linear in committed
    * batch count (the head read's headSize · batches, the WAND driver
    * summary, the `_termmeta`/`_stats` fan-out, the per-batch footer
    * tier) degrades as micro-batches accumulate, and [[compact]]'s full
    * fold is O(store). `compactLevel` instead folds only the SMALLEST
    * batches — enough to bring the count back to `maxBatches` — into one
    * new batch, re-tiered WITHIN the fold, with its sidecars and stats
    * recomputed from the folded postings; every untouched batch enters
    * the next snapshot by link like any commit's, so the fold's write
    * cost is proportional to the FOLDED bytes, never the store. Folding
    * smallest-first is the leveled invariant: batch sizes grow
    * geometrically across folds, so total write amplification over an
    * n-batch ingest is O(log n) rewrites per posting while the live
    * batch count stays ≤ maxBatches.
    *
    * The folded batch lands under a fresh NEGATIVE id (below build's -1 —
    * stream ids are ≥ 0, so no collision ever), and the folded ORIGINAL
    * ids enter the `_folded` registry: a replay of a folded batch is
    * refused loudly by [[appendBatch]] (the [[compact]] watermark
    * semantics, as a set — a leveled fold picks smallest, not a prefix).
    * Returns true iff a fold ran (count > maxBatches); a no-op call
    * commits nothing. */
  def compactLevel(spark: SparkSession, dir: String, maxBatches: Int = 8,
                   headSize: Int = DefaultHeadSize): Boolean = {
    require(maxBatches >= 2, "compactLevel: maxBatches must be >= 2")
    commitNext(dir)(stageLevel(spark, _, maxBatches, headSize)).isDefined
  }

  private def stageLevel(spark: SparkSession, s: Stage, maxBatches: Int,
                         headSize: Int): Boolean = {
    val committed = batchIds(s.src).toSeq.sorted
    if (committed.size <= maxBatches) return false
    val fold = committed
      .sortBy(b => (treeBytes(Paths.get(s"${s.src}/ingest_batch=$b")), b))
      .take(committed.size - maxBatches + 1)
    s.carry {
      case BatchRel(b) => fold.contains(b.toLong)
      case rel => rel == FoldedMarker
    }
    foldInto(spark, s, fold, (committed :+ -1L).min - 1L, headSize)
    writeMarker(s.dst, FoldedMarker,
      (foldedBatches(s.src) ++ fold).toSeq.sorted.mkString("\n"))
    true
  }

  /** Fold batches `fold` of `s.src` into batch `into` of `s.dst`: the
    * postings re-tiered within the fold (the folded batches' impact cuts
    * collapse into one cut — min(fold df, headSize) head per term), the
    * term-keyed sidecars recomputed from the folded postings (the new
    * tail set moves the certificates — never a sum of the per-batch
    * sidecars), the docidx rows carried and the stats rows summed. */
  private def foldInto(spark: SparkSession, s: Stage, fold: Seq[Long],
                       into: Long, headSize: Int): Unit = {
    val folded = readPostings(spark, s.src)
      .filter(col("ingest_batch").isInCollection(fold))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"),
        col("positions"), lit(into).as("ingest_batch"), col("tbucket"),
        tierCol(headSize).as("tier"))
      .localCheckpoint(true)
    writeTiered(folded, s.dst)
    writeDocIdx(readDocIdx(spark, s.src)
      .filter(col("ingest_batch").isInCollection(fold))
      .withColumn("ingest_batch", lit(into)), s.dst)
    writeStats(readStats(spark, s.src)
      .filter(col("ingest_batch").isInCollection(fold))
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("total_len")), lit(0L)).as("total_len"))
      .withColumn("ingest_batch", lit(into)), s.dst)
  }

  /** Bytes of the files under `p`; 0 when `p` does not exist. */
  private[sources] def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.map(treeBytes).sum finally s.close()
    } else Files.size(p)

  /** Takedown/GDPR erasure ([[IvfIndexStore.delete]]'s discipline over
    * the two-level layout), committed as the next snapshot: the erased
    * documents' postings stop existing — df shrinks (postings AND
    * `_termmeta`), their dl leaves the corpus stats — so serving after
    * erasure is EXACTLY BM25 over the surviving corpus (q127's gate). The
    * locate resolves through the `_docidx` sidecar ([[locate]]: a pushed
    * `In(doc_id)` over doc_id-sorted files, O(touched batches' docidx
    * row groups), never a store scan). Each touched batch rewrites only
    * its touched leaves, keeping the key sort, and carries the rest by
    * link. Tier refill: the rewrite RE-TIERS the survivors — each term's
    * head refills to its original capacity (its pre-erase tier-0 count),
    * which is EXACTLY the fresh-build cut over the survivors, so a
    * head-hitting takedown cannot silently dent tiered recall (the spec
    * pins the equivalence; q134 hash-gates tiered serving over an erased,
    * uncompacted store). The refill is free: a term's per-batch postings
    * all live in one tbucket, so the cut is leaf-local over rows the
    * rewrite reads anyway. The batch's `_termmeta`/`_blockmeta` leaves
    * recompute from the survivors, its `_docidx` drops the ids and its
    * stats row drops their count and length; a batch left with no
    * document goes whole. The ids join the `_erased/` tombstones — also
    * when the locate finds nothing, so a takedown filed before its
    * batch's (crashed, replayed) append commits still sticks. Idempotent:
    * erased ids match no rows. Returns postings rows removed. */
  def deleteDocs(spark: SparkSession, dir: String, docIds: Seq[Long]): Long = {
    require(docIds.nonEmpty, "postings erase: empty id list")
    var removed = 0L
    commitNext(dir) { s => removed = stageErase(spark, s, docIds); true }
    removed
  }

  /** The erase locate's `_docidx` scan — package-private so the spec can
    * pin `doc_id` in its PushedFilters. `root` must be resolved. */
  private[sources] def locate(spark: SparkSession, root: String,
                              docIds: Seq[Long]): DataFrame =
    readDocIdx(spark, root).filter(col("doc_id").isInCollection(docIds))

  private def stageErase(spark: SparkSession, s: Stage, docIds: Seq[Long]): Long = {
    import spark.implicits._
    // the pushed-In cap applies here too: a takedown batch of thousands
    // must not stack-overflow the parquet Or chain — the range rewrite
    // still prunes over the doc_id-sorted docidx files
    val touched = IncrementalContainment.withInPushdown(
      spark, idPushdown(docIds.size)) {
      locate(spark, s.src, docIds)
        .select(col("ingest_batch"), explode(col("tbuckets")).as("tbucket"))
        .distinct().collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    }
    val leafRels = touched.map { case (b, tb) => b -> s"ingest_batch=$b/tbucket=$tb" }
    // every touched batch at once: ONE read of the touched leaves, then
    // per batch the removed rows, documents and length beside its stats
    lazy val leaves = spark.read.schema(postingsSchema).option("basePath", s.src)
      .parquet(leafRels.map(r => s"${s.src}/${r._2}"): _*)
    val left = if (touched.isEmpty) Map.empty[Long, (Long, Long, Long)]
    else readStats(spark, s.src)
      .join(leaves.filter(col("doc_id").isInCollection(docIds))
        .groupBy(col("ingest_batch"), col("doc_id"))
        .agg(count(lit(1)).as("rows"), first(col("dl")).as("dl"))
        .groupBy(col("ingest_batch"))
        .agg(sum(col("rows")).as("rows"), count(lit(1)).as("docs"),
          sum(col("dl")).as("len")), "ingest_batch")
      .select(col("ingest_batch"), col("rows"), col("n_docs") - col("docs"),
        col("total_len") - col("len"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val live = left.collect { case (b, (_, n, _)) if n > 0L => b }.toSeq
    // an emptied batch goes whole; a live one replaces its touched leaves,
    // its docidx and its stats row, the rest carried by link
    s.carry(left.keys.filterNot(live.contains).flatMap(batchRels).toSet ++
      live.flatMap(b => Seq(s"_docidx/ingest_batch=$b", s"_stats/ingest_batch=$b")) ++
      leafRels.filter(r => live.contains(r._1))
        .flatMap(r => Seq(r._2, s"_termmeta/${r._2}", s"_blockmeta/${r._2}")))
    if (live.nonEmpty) {
      val kept = leaves.filter(col("ingest_batch").isInCollection(live))
      // each term's head refills to its original capacity (pre-erase
      // tier-0 count = min(df, headSize)): EXACTLY the fresh-build cut
      // over the survivors
      val headCap = kept.filter(col("tier") === 0)
        .groupBy(col("ingest_batch"), col("tok")).agg(count(lit(1)).as("head_cap"))
      writeTiered(kept.filter(!col("doc_id").isInCollection(docIds))
        .join(headCap, Seq("ingest_batch", "tok"), "left")
        .select(col("tok"), col("doc_id"), col("tf"), col("dl"),
          col("positions"), col("ingest_batch"), col("tbucket"),
          tierColCapped(coalesce(col("head_cap"), lit(0L))).as("tier"))
        .localCheckpoint(true), // feeds the postings AND both sidecars
        s.dst)
      writeDocIdx(readDocIdx(spark, s.src)
        .filter(col("ingest_batch").isInCollection(live) &&
          !col("doc_id").isInCollection(docIds)), s.dst)
      writeStats(live.map(b => (b, left(b)._2, left(b)._3))
        .toDF("ingest_batch", "n_docs", "total_len"), s.dst)
    }
    docIds.toDF("doc_id").coalesce(1)
      .write.mode(SaveMode.Append).parquet(s"${s.dst}/$ErasedDir")
    left.values.map(_._1).sum
  }
  /** Streaming face: maintain the index from a document stream, one
    * commit per micro-batch ([[sinkBatch]]). `compactEvery` folds ALL
    * batches on cadence; `levelMaxBatches` is the INCREMENTAL alternative
    * — [[compactLevel]] folds just enough smallest batches to hold the
    * batch count at the cap, O(folded bytes) per fold instead of
    * O(store), which is what keeps every batch-count-linear serving bound
    * flat under an unbounded stream. Without either, an append's cost
    * grows with the store too: its commit hard-links every file of every
    * batch, ~1.2 s of a ~4.4 s append at 128 batches of 4 documents
    * (15k files), against ~0.04 s at 10 (4 cores), so a long stream wants
    * `levelMaxBatches`. */
  def sink(docStream: DataFrame, dir: String,
           idCol: String = "doc_id", textCol: String = "text",
           compactEvery: Int = 0, levelMaxBatches: Int = 0,
           headSize: Int = DefaultHeadSize): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        sinkBatch(batch, dir, batchId, idCol, textCol, compactEvery,
          levelMaxBatches, headSize)
    }

  /** One [[sink]] micro-batch: the append and whatever fold falls due
    * stage as ONE snapshot — the fold reads the append's stage — stamped
    * `sink_batch=<id>` in its manifest entry. The replay of a micro-batch
    * whose commit landed before a crash finds its stamp on the live
    * snapshot and commits nothing: its documents are in, folded or not. */
  private[sources] def sinkBatch(batch: DataFrame, dir: String, batchId: Long,
                                 idCol: String, textCol: String,
                                 compactEvery: Int, levelMaxBatches: Int,
                                 headSize: Int): Unit = {
    val stamp = s"sink_batch=$batchId"
    val spark = batch.sparkSession
    if (!VersionedDir.resolve(Paths.get(dir.stripSuffix("/"))).payload.contains(stamp))
      commitNext(dir, Seq(stamp))(
        stageAppend(batch, dir, batchId, idCol, textCol, headSize,
          checkDupIds = true),
        s =>
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
            stageCompact(spark, s, headSize, dir)
          else levelMaxBatches > 0 &&
            stageLevel(spark, s, levelMaxBatches, headSize))
  }
  // Battery-entry layouts (the IvfIndexStore.layoutFor discipline:
  // built once per (session, sfDir) per /tmp lifetime, marker-gated so a
  // warm /tmp re-run replays the ingest instead of duplicating it).
  // Path carries the layout-format generation ("postings5" = positions +
  // _blockmeta block-max certificates + _format marker, every mutation a
  // snapshot commit, one _docidx file per batch) so a warm /tmp written
  // by an older layout can never serve a stale format to a newer reader.

  private val layoutMemo =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String)]()

  private def layoutImpl(spark: SparkSession, sfDir: String,
                         variant: String)(seed: String => Unit): String = {
    // headSize is part of the persisted format — a warm /tmp layout cut
    // at a different head must rebuild, not serve
    val keyStr = s"$sfDir|$variant|h$DefaultHeadSize"
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(keyStr.getBytes(StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    val dir = "/tmp/graft-postings5/" + digest + "_" + variant + "_" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val key = (spark, keyStr)
    if (!layoutMemo.contains(key)) {
      val marker = Paths.get(dir, "_built")
      if (!Files.exists(marker)) {
        // a dir without its marker is a seed that died mid-way — the
        // erased variant's compact watermark would refuse a re-seed's
        // appends, so start over instead of resuming into a poisoned
        // layout
        Maintenance.deleteRec(Paths.get(dir))
        seed(dir)
        Files.createFile(marker)
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
