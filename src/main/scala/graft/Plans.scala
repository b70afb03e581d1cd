package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Emits PLANS.md: `explain("formatted")` for representative queries, each
  * prefaced by the plan property it demonstrates. Regenerate with
  *
  * {{{ sbt "runMain graft.Plans /root/testdata/sf0.01 PLANS.md" }}}
  *
  * (dev artifact; the machine-checked guards live in PlanQualitySpec).
  */
object Plans {

  private val picks: Seq[(String, String)] = Seq(
    "q2_filter_project" ->
      ("Predicate pushdown + column pruning: both filters appear in " +
        "PushedFilters and ReadSchema carries only the 4 projected columns " +
        "of lineitem's 11."),
    "q1_pricing_summary" ->
      ("Partial+final hash aggregation: HashAggregate(partial) above the " +
        "scan, exchange carries only 6 group rows per partition — the " +
        "shape that survives 100 TB."),
    "q4_join_broadcast_dim" ->
      ("Broadcast hash join: the part dimension ships via BroadcastExchange; " +
        "the lineitem fact side never shuffles for the join."),
    "q3_join_multiway" ->
      ("Fact⋈fact shuffle joins on their keys with broadcast dimensions " +
        "(nation, region) — only customer/orders/lineitem exchange data."),
    "q27_topn_global" ->
      "Global top-k plans as TakeOrderedAndProject — no full sort anywhere.",
    "q9_last_image" ->
      ("CDC last-image compaction: one hash partitioning on the key, " +
        "in-partition sort, rank filter — no global sort."),
    "q35_cosine_topk" ->
      ("Custom codegen'd expression: floatvectordot evaluates inside " +
        "WholeStageCodegen; the 1-row query vector is a broadcast."),
    "q51_asof_join" ->
      ("As-of join as union + running window: ONE exchange on the key for " +
        "both inputs — no range-join nested loop."),
    "q56_stratified_sample" ->
      ("Deterministic hash sampling is a pure per-row filter directly over " +
        "the scan — no shuffle, no RNG state."),
    "q68_preagg_join" ->
      ("Eager aggregation below the join: lineitem pre-aggregates per order " +
        "(partial+final around one exchange) before joining orders — the big " +
        "shuffle carries one row per order, not per lineitem."),
    "q36_neardup_vectors" ->
      ("Approximate near-dup: candidates come from an equi-join on " +
        "(band, bucket) LSH signatures — no CartesianProduct node anywhere; " +
        "exact rescoring touches candidates only."),
    "q67_data_mixture" ->
      ("Global training order without a global sort: ranking windows " +
        "partition by mix_bucket; the only SinglePartition exchange feeds " +
        "the per-bucket COUNT offsets (rows = shards, not documents)."),
    "q75_rls_view" ->
      ("Row-level security as a plan-time view filter: the owner policy is " +
        "an ordinary predicate in PushedFilters — security costs nothing " +
        "at scan time."),
    "q76_bloom_decontaminate" ->
      ("Scan-side sketch prefilter: a literal Bloom filter over the " +
        "benchmark shingles gates the corpus stream (might_contain) before " +
        "the exact overlap join — output identical to the exact q59."),
    "q78_curation_pipeline" ->
      ("Operators compose: dedup representatives, contamination and " +
        "repetition gates and the hash sample are joins over shared staged " +
        "intermediates — the full flow stays one declarative plan."),
    "q83_knn_join" ->
      ("Batched retrieval: the corpus scores map-side against the BROADCAST " +
        "query batch and reduces through the bounded top-k aggregator — " +
        "no Window node, and the only hash exchange carries O(queries·k) " +
        "partial buffers, never corpus rows."),
    "q84_semantic_decontaminate" ->
      ("Semantic decontamination: the benchmark embedding set broadcasts " +
        "whole; corpus vectors score in one codegen'd map pass and reduce " +
        "to a per-vector max — the corpus side never shuffles."),
    "q85_curation_semantic" ->
      ("The full curation flow with the semantic gate composed in: one " +
        "declarative plan over the shared staged intermediates plus the " +
        "broadcast-benchmark embedding stage — composing the gate adds " +
        "zero corpus-side shuffles to q78's plan."),
    "q86_lsh_capped" ->
      ("Mega-bucket cap: the bucket histogram is one partial+final count, " +
        "over-cap buckets leave via a LeftAnti join (tiny right side), and " +
        "the pair stage stays the same equi-join — Σ bucket² bounded with " +
        "no CartesianProduct anywhere."),
    "q88_vec_dup_clusters" ->
      ("Semantic dup clusters: alternating large-star/small-star " +
        "contraction (the MapReduce-literature CC algorithm — O(log²) " +
        "rounds, where plain min-label propagation needs diameter rounds " +
        "and this graph's organic chain needed 20) over the verified " +
        "near-dup pair list — per round only the edge relation shuffles, " +
        "lineage truncated per round; the corpus-sized side never " +
        "re-enters after the candidate stage."),
    "q89_pq_codes" ->
      ("PQ encoding: the codebooks are plan literals, each code an argmax " +
        "over ksub codegen'd quantized dots — the encode itself is one " +
        "map-side projection with zero exchanges (PqSpec pins it), and no " +
        "Filter appears above the scan (posexplode_outer keeps Catalyst " +
        "from inferring a size(codes) > 0 filter that would inline the " +
        "whole encode expression a second time). The argmax is " +
        "array_position over a scores array, sized to stay under janino's " +
        "method limit so the stage remains whole-stage-codegen'd — the " +
        "struct-greatest form fell back to interpreted eval at 10× the " +
        "cost. The posexplode + global order exist only for the DuckDB " +
        "oracle's row identity; a production encode persists the codes " +
        "relation unordered."),
    "q91_domain_cap" ->
      ("Domain balancing without the giant-domain sort: the per-source " +
        "count table broadcasts back, the uniform-hash prefilter cuts each " +
        "domain to ~1.5× the cap BEFORE the ranking window — window input " +
        "is O(domains · cap), never corpus-sized."),
    "q92_paragraph_dedup" ->
      ("Duplicated-span removal: the anti-join's build side (the " +
        "map-side-combined recurring-fingerprint set) is deliberately NOT " +
        "hint-forced — AQE picks broadcast here because the set is small on " +
        "this corpus, and falls back to shuffle on a template-heavy one " +
        "(ParagraphDedupSpec's flood test pins the fallback); document " +
        "reassembly rides the balanced input's doc_id partitioning (r21: " +
        "no by-document exchange in the plan — the chunk text payload " +
        "never shuffles)."),
    "q93_token_domain_cap" ->
      ("Token-budgeted domain balancing: only over-threshold sources " +
        "broadcast a token-mass row, the uniform-hash prefilter thins each " +
        "giant domain to ~1.5×budget worth of tokens BEFORE the running-sum " +
        "window, and ReadSchema shows the scan never reads text — n_chars " +
        "is the pre-materialized cost column."),
    "q94_pii_scrub" ->
      ("Typed PII scrub: injection, three regexp_count/regexp_replace " +
        "passes, and the digest all fuse into one WholeStageCodegen " +
        "projection over a 2-column scan — zero exchanges before the " +
        "battery's determinism sort."),
    "q95_temperature_sample" ->
      ("Temperature mixture sampling: one map-side-combined per-language " +
        "count, a tiny rate relation (sqrt keeps both engines bit-equal) " +
        "joined back, and a per-row h16 filter — the corpus never shuffles " +
        "before the determinism sort."),
    "q90_adc_topk" ->
      ("ADC retrieval at refine=4: codes scored against the driver-computed " +
        "per-(subspace, code) lookup table (plan literal, KBs) — a map-side " +
        "projection; the quantized candidate cut is a TakeOrdered of " +
        "O(refine·k) ids, and the exact rescore joins the corpus to the " +
        "BROADCAST candidate list, so the full-width embedding column is " +
        "read for only refine·k rows and the corpus never shuffles."),
    "q97_embedding_outliers" ->
      ("Centroid outlier gate: the per-label sums posexplode 64 narrow " +
        "rows per vector but hash-aggregate PARTIALLY map-side (the " +
        "exchange carries tasks × labels × 64 rows, never the corpus); " +
        "the centroid relation is labels × 64 longs and broadcasts by " +
        "size; scoring is one zip_with/aggregate projection."),
    "q98_corpus_mix_report" ->
      ("Corpus mix report: all four granularities come from ONE Expand + " +
        "partial+final hash aggregate — the shuffle carries the slice " +
        "rows, never the corpus; the 3-column scan never reads text; the " +
        "grand total joins back as a 1-row broadcast."),
    "q99_lm_fluency" ->
      ("LM fluency scoring: the fitted model is baked into the codegen'd " +
        "bigramlmscore expression as flat long[] lookup tables " +
        "(alphabet-bounded), so scoring is one tight per-row loop over a " +
        "3-column scan — zero exchanges before the determinism sort, and " +
        "8x the interpreted HOF formulation it replaced; the model fit " +
        "itself is one map-side-combined bigram count over the reference " +
        "slice."),
    "q102_contrastive_pairs" ->
      ("Contrastive mining in ONE pass over the scored-candidate relation " +
        "(banded equi-join + exact rescore, no cartesian anywhere — " +
        "deliberately unpersisted, it is quadratic-in-corpus at this band " +
        "geometry): the sim floor filters once, pair_type is a projection, " +
        "and the per-anchor cap is a ranking window over candidate rows " +
        "only — O(band collisions), never the corpus, and the expensive " +
        "join appears once in the plan (r21: the old positive/negative " +
        "branch union recomputed it per branch)."),
    "q103_variant_props" ->
      ("VARIANT event properties: parse_json decodes each props string " +
        "once into the binary variant encoding inside the scan-side " +
        "projection; variant_get field reads and the partial+final " +
        "aggregate follow — no per-field string re-parse, and the layout " +
        "is shredding-ready for typed subcolumn pushdown (and " +
        "VariantEventStore persists the decoded column once for repeat " +
        "pipelines — the scan-time delta is in the SCALE.md table below)."),
    "q106_variant_store" ->
      ("Persisted VARIANT layout, shredded-subcolumn pushdown: the scan of " +
        "the stored layout reads the typed `$.k` shredded field (ReadSchema " +
        "shows the struct subcolumn, not the variant binary), so the repeat-" +
        "query path touches no JSON string and no variant buffer — ordinary " +
        "column pruning over semi-structured data; values pinned equal to " +
        "q103's raw-feed aggregation by the shared DuckDB oracle."),
    "q104_quality_classifier" ->
      ("Trained quality classifier: the fitted 1024-long weight table is " +
        "baked into the codegen'd qualityclassifierscore expression (the " +
        "bigramlmscore pattern), so scoring is one tight per-row loop — " +
        "steady-state one memo-table load per character, md5 only on " +
        "misses — over a 3-column scan with zero exchanges before the " +
        "determinism sort; the fit is ONE exploded map-side-combined " +
        "aggregation over the reference slice whose output is bounded by " +
        "the feature dimension (a constant-size driver pull)."),
    "q105_chunk_domain_cap" ->
      ("Exact chunk-token domain budget: token_cost is closed-form per-row " +
        "algebra (no explode), the cap core is q93's two-phase shape — " +
        "over-threshold-only broadcast, h16 prefilter, per-source running " +
        "sum over O(budget/avg-doc) survivor rows — and at ingest the cost " +
        "column pre-materializes (IngestCuration audit column) so repeat " +
        "cap runs are text-free 4-column scans (TokenCostLayoutSpec)."),
    "q107_epoch_shard" ->
      ("Deterministic epoch shuffle into training shards: one DATA " +
        "exchange hash-partitions by shard (the second exchange is only " +
        "the battery's presentation sort) and the ranking window " +
        "partitions BY SHARD, so no task ever sorts more than one shard " +
        "— nshards is the scale knob (thousands at 100 TB keeps each " +
        "in-task sort at shard-file size), and only (id, source, 32-char " +
        "key) rows enter the shuffle, never text payloads."),
    "q108_keep_best_rep" ->
      ("Quality-based cluster representative selection: one partial+final " +
        "max-struct aggregate per cluster over the shared cluster stage — " +
        "no window, no per-cluster sort, so a pathological mega-cluster " +
        "costs its row count in constant-size aggregate buffers, never an " +
        "in-task materialization."),
    "q109_mix_schedule" ->
      ("Interleaved mixing schedule: per-source counts broadcast back; the " +
        "h16 prefilter keeps only rows that can reach the emitted prefix " +
        "(a PREFIX of the md5 rank order, so survivor ranks are global " +
        "ranks) before the by-source ranking window; the emitted slots " +
        "plan as TakeOrderedAndProject, never a full global sort."),
    "q110_upsample_shard" ->
      ("Deterministic upsampling with per-copy shard scatter: a pure " +
        "per-row explode + projection — no join, no window, no shuffle " +
        "before the presentation sort; each repeat salts the epoch-shard " +
        "hash individually so copies scatter like unrelated documents."),
    "q111_shard_manifest" ->
      ("Shard-store round-trip manifest: the persisted epoch shards are " +
        "scanned with ReadSchema pruned to (shard_pos, n_chars) plus the " +
        "shard partition column — text never leaves the store for a " +
        "manifest read — and the per-shard counts/position-checksums are " +
        "one partial+final aggregate; the DuckDB oracle recomputes the " +
        "manifest from the raw corpus, gating the whole assignment→" +
        "shuffle→sorted-write→partition-discovery-read chain."),
    "q112_ivf_store" ->
      ("ANN served from the persisted inverted-file index: the probe ids " +
        "land as LITERALS in the scan's PartitionFilters, so the store " +
        "read is nprobe/nlist of the corpus by layout, the codebook read " +
        "is nlist rows, scoring runs the codegen'd floatvectordot over " +
        "the probed lists only, and the result is a TakeOrderedAndProject " +
        "— no shuffle of anything corpus-sized at serve time."),
    "q113_containment" ->
      ("Containment dedup: candidates come from a per-shingle equi-join " +
        "confined to rare shingles (df ≤ 8 bounds the per-shingle fanout, " +
        "so Σ df² is linear in postings) — no CartesianProduct; the " +
        "self-join's two sides scan the PERSISTED rare-postings stage " +
        "(the df aggregate runs once, at materialization) and the verify " +
        "reads the persisted distinct-shingle and per-doc set-size stages " +
        "— cache scans instead of recomputation (ReuseExchange never " +
        "fired across these consumers; r20/r21 plan audits)."),
    "q115_ivf_batch" ->
      ("Batched ANN from the persisted IVF store: ONE scan whose " +
        "PartitionFilters hold the UNION of all queries' probed lists " +
        "(read bound ≤ batch·nprobe of nlist), a BroadcastHashJoin " +
        "against the per-query probe table so each vector is scored " +
        "only for queries that probed its list, and the bounded " +
        "TopKAggregator — the shuffle carries O(queries·k) partial " +
        "buffers, never the scanned lists; no scan-per-query, no " +
        "cartesian."),
    "q118_ivfpq_store" ->
      ("IVF-PQ serving from the persisted index — this dump shows the " +
        "RESCORE stage (the ADC candidate pass executes eagerly inside " +
        "adcTopK; its plan — ReadSchema (vec_id, codes) with NO embedding " +
        "column, the 32× bytes-read reduction — is pinned in " +
        "IvfPqStoreSpec): the wide column is read only under a pushed " +
        "In(vec_id, ...) over the refine·k candidates, with the probe ids " +
        "as PartitionFilters literals — a point read, not a probed-list " +
        "re-scan; no join, no corpus-sized shuffle anywhere."),
    "q119_ivfpq_batch" ->
      ("Batched IVF-PQ serving — this dump shows the RESCORE stage (the " +
        "codes stage executes eagerly; its plan — one probed-union scan, " +
        "codes-only ReadSchema, broadcast probe+table joins, bounded " +
        "per-query TopKAggregator — is pinned in IvfPqStoreSpec): the " +
        "wide column is read once for ALL queries' candidates under a " +
        "pushed In over the union of refine·k ids, each row scored only " +
        "for the queries that shortlisted it (broadcast pair join), " +
        "per-query top-k via the bounded aggregator — O(queries·k) " +
        "shuffle, no scan-per-query."),
    "q120_pq_drift" ->
      ("PQ drift report over the persisted store: ONE scan of the lists, " +
        "the per-row quantized reconstruction error (codebooks folded in " +
        "as literals — map-side, no join) feeds a partial+final aggregate " +
        "whose exchange carries one row per ingest batch; the batch -1 " +
        "baseline comes back as a broadcast single row for the drift " +
        "flag — nothing corpus-sized shuffles."),
    "q121_ivf_filtered" ->
      ("Filtered ANN from the persisted store: the metadata predicate " +
        "sits in PushedFilters (EqualTo(label,3)) BESIDE the probe-id " +
        "PartitionFilters literals — metadata rides the list layout, so " +
        "filtering costs a pushed scan predicate, not a post-serve join; " +
        "ReadSchema stays pruned to the scored columns, and the result " +
        "is one TakeOrderedAndProject."),
    "q122_ivf_deleted" ->
      ("Serving from a store after delete-by-id: the plan is exactly " +
        "q112's (probe literals as PartitionFilters, one " +
        "TakeOrderedAndProject) because deletion is a LAYOUT operation — " +
        "only the affected list leaves were rewritten through the " +
        "rename-aside swap, so serving stays a pure pruned scan with no " +
        "tombstone anti-join tax on any path."),
    "q123_ivf_adaptive" ->
      ("Adaptive over-probe endpoint: the selective predicate leaves " +
        "fewer than k matches, so the loop provably widens to nprobe = " +
        "nlist and this dump shows that final pass — every list in " +
        "PartitionFilters, the predicate in PushedFilters, one " +
        "TakeOrderedAndProject: exactly brute force over the filtered " +
        "corpus, which is why the oracle needs no probe replay. Earlier " +
        "passes are the same plan with fewer probe literals, each a " +
        "bounded serving read."),
    "q124_bm25" ->
      ("Sparse retrieval: one tokenization pass feeds per-doc lengths " +
        "(partial+final count) and the query-term postings — the IN " +
        "filter prunes the exploded token stream BEFORE the tf " +
        "aggregate, so postings volume is O(matching tokens); per-term " +
        "df and the 1-row corpus stats come back as broadcasts, the only " +
        "corpus-keyed shuffle is the tf/doc-length equi-join, and the " +
        "result is one TakeOrderedAndProject plus a k-row rank window. " +
        "Per-(doc, term) scores quantize to longs BEFORE the per-doc " +
        "sum, so aggregation order cannot move the hash."),
    "q125_rrf_hybrid" ->
      ("Hybrid fusion: both inputs are bounded top-20 serving results " +
        "(BM25 and exact dense cosine), so the fusion is KB-scale " +
        "algebra — union, one aggregate, one TakeOrderedAndProject. " +
        "Contributions are 1000000 div (60 + rank): integer-exact, no " +
        "float anywhere in the fused score."),
    "q126_bm25_store" ->
      ("BM25 served from the PERSISTED postings store: the corpus read " +
        "is the probe — tbucket partition literals (3 of 256 bucket " +
        "dirs) beside a pushed In(tok, …) of eq leaves over key-sorted " +
        "files (row-group pruning on footer stats), with the doc length " +
        "DENORMALIZED onto every posting so no corpus-sized doc-length " +
        "join exists anywhere. df comes from the matched postings " +
        "themselves, N/avgdl from the KB-scale _stats sum — both " +
        "broadcasts. Compare q124's plan: the tokenization pass and its " +
        "two corpus aggregates are gone. The probe executes eagerly " +
        "inside the serving checkpoint, so THIS dump shows the scorer " +
        "above it (the adcCandidates convention) — the probe scan's " +
        "PartitionFilters literals and pushed In(tok) are pinned " +
        "machine-checked in PostingsStoreSpec."),
    "q127_bm25_erased" ->
      ("The same serving plan over the ERASED + COMPACTED store: one " +
        "folded ingest_batch=-1 tier (the compaction fold), same probe " +
        "shape. Correctness of the maintenance chain lives in the " +
        "oracle (BM25 over the survivors, exactly); the plan's claim is " +
        "that takedowns and folds leave the serving read untouched."),
    "q128_hybrid_store" ->
      ("Hybrid retrieval with NO query-time corpus pass: the sparse " +
        "list reads 3 probed term buckets of the postings store, the " +
        "dense list reads 2 probed centroid partitions of the IVF store " +
        "(nprobe=2 — real ANN semantics, the oracle replays probe " +
        "selection), and the fusion is the same KB-scale integer-exact " +
        "RRF algebra as q125."),
    "q129_bm25_batch" ->
      ("Batched sparse serving — q115's shape for the postings store: " +
        "ONE probe over the UNION of three queries' terms (4 bucket " +
        "dirs, one pushed In), df and corpus stats computed once and " +
        "shared, per-query scoring through the broadcast request " +
        "relation, per-query rank windows over matched postings " +
        "(bounded by the union terms' df). A fourth query would add " +
        "rows to a broadcast, not a scan. The df bound is honest but " +
        "weak for a stop-word term — q130 is the bounded-tier answer."),
    "q130_bm25_pruned" ->
      ("TIERED BM25 serving — the common-term bound: the probe's " +
        "PartitionFilters carry tier=0 beside the tbucket literals, so " +
        "the stop word's tail partitions are never listed, let alone " +
        "read — per term per batch the scan is <= headSize (256) postings " +
        "no matter the df (q129's 'the' reads ~3800 postings on the " +
        "exact path, <=768 here; discriminative terms with df <= 256 " +
        "serve exactly). df stays EXACT via the _termmeta " +
        "sidecar probe (same bucket pruning + pushed In(tok), O(vocab) " +
        "rows), N/avgdl from _stats — both broadcasts; the per-doc sum " +
        "shuffles O(headSize x terms x batches) rows, corpus-free. The " +
        "cut is deterministic integer arithmetic, replayed verbatim by " +
        "the oracle; PostingsStoreSpec pins the tier literal in the plan " +
        "and poisons the tail files to prove they are never opened; " +
        "recall vs the exact scorer is published in SCALE.md."),
    "q131_bm25_pruned_batch" ->
      ("q129's batched request served from the HEAD TIER (q130's probe " +
        "shape shared through the one prunedScored assembly): the " +
        "per-query rank window's input is bounded by headSize x batches " +
        "per union term regardless of df — exactly the bound q129's " +
        "exact path cannot offer for its stop-word term. One tier=0 " +
        "probe over the term union, _termmeta df and stats broadcast, " +
        "per-query scoring through the broadcast request relation."),
    "q132_bm25_wand" ->
      ("WAND/max-score EXACT serving — this dump shows the final rank " +
        "assembly (the head probe and the certificate pulls execute " +
        "eagerly inside the serving checkpoints, the adcCandidates " +
        "convention; their plans — tier=0 + bucket PartitionFilters for " +
        "the head, tier=1 + bucket literals with pushed In(doc_id) for a " +
        "candidate tail fetch — are pinned machine-checked in " +
        "PostingsStoreSpec): the union under the rank is head partials " +
        "plus ONLY the certificate-surviving candidates' tail rows, so " +
        "the stop word's O(df) tail never streams through the plan; " +
        "output is bit-identical to the exact serve (q132's oracle is " +
        "q126's replay re-targeted), with driver state bounded by " +
        "headSize x batches x terms."),
    "q133_phrase_topk" ->
      ("Phrase serving from positional postings with SEED-TERM candidate " +
        "pruning: the rarest phrase term (exact df from _termmeta) probes " +
        "fully, every other slot fetches ONLY the seed's doc ids over the " +
        "(tok, doc_id)-sorted runs — a stop-word slot costs O(seed df), " +
        "never its own O(df) positions run (probes execute eagerly; their " +
        "plans — bucket literals, pushed In(tok), pushed/ranged In(doc_id) " +
        "— are pinned in PostingsStoreSpec). Positions gap-decode and " +
        "adjacency verify inside a codegen'd projection (higher-order " +
        "array functions, no UDF, no re-tokenization); the per-doc join " +
        "fans in one row per (doc, phrase slot) and the result is one " +
        "TakeOrderedAndProject plus the k-row rank window."),
    "q134_bm25_pruned_erased" ->
      ("q130's tiered serving plan over the ERASED, UNCOMPACTED store: " +
        "same tier=0 partition literal, same _termmeta df broadcast — " +
        "the plan's claim is that a takedown leaves the tiered read " +
        "untouched; the REFILL correctness (erase re-tiers each touched " +
        "term's head to the fresh-build cut over the survivors) lives in " +
        "the oracle, which replays the per-stripe head cut over the " +
        "surviving corpus."),
    "q135_bm25_wand_batch" ->
      ("Batched WAND — q129's exact answer at certificate-bounded cost: " +
        "the rank assembly unions the head partials with ONLY the " +
        "per-term fetch decisions' tail rows (candidate-restricted " +
        "In(doc_id) fetches, whole-tail only for a query whose " +
        "certificates cannot exclude unseen docs, never listed when no " +
        "query needs it — the probes execute eagerly, plans pinned in " +
        "PostingsStoreSpec); per-query attribution through the broadcast " +
        "request relation, per-query rank windows over certificate-" +
        "bounded input instead of the union terms' O(df)."),
    "q136_phrase_near" ->
      ("Proximity (sloppy phrase): q133's probe and join shape exactly — " +
        "same bucket partition literals, same one-row-per-(doc, slot) " +
        "fan-in — with the adjacency predicate generalized to the " +
        "ordered-chain window as nested exists higher-order functions, " +
        "still one codegen'd projection; widening the window costs ZERO " +
        "additional I/O or shuffle, only per-row predicate work."),
    "q137_bm25_leveled" ->
      ("q126's exact serving plan over a LEVELED store (compactLevel " +
        "folded the smallest batches mid-ingest behind the version commit): " +
        "the read shape is IDENTICAL — committed-batch set + tbucket " +
        "literals in PartitionFilters, pushed In(tok) — which is the " +
        "plan's whole claim: leveling changes batch COUNT (the " +
        "partition-filter list and the footer tier stay capped under " +
        "unbounded streaming ingest), never the serving algebra. The " +
        "fold itself writes only the folded batches' bytes (untouched " +
        "batches carry over as hard links / a manifest), spec-pinned " +
        "with the nlink proof and the live-fold reader hammer."),
    "q138_bm25_phrase" ->
      ("Phrase-aware ranked retrieval — the composed plan: the phrase " +
        "match runs eagerly inside serving checkpoints (seed-pruned, " +
        "q133's pinned probes), then THIS dump's scoring read fetches " +
        "only the candidates' rows (bucket literals + pushed In(tok) " +
        "and In(doc_id)) with df from the broadcast _termmeta sidecar — " +
        "never counted from the restricted probe — so a stop-word free " +
        "term costs O(phrase candidates), not its O(df) run; one " +
        "bounded top-k + k-row rank window on top."),
    "q139_ivf_merged" ->
      ("q112's serving plan over a LEAF-MERGED store (mergeLeaves " +
        "folded the smallest ingest batches per list): probe literals " +
        "as PartitionFilters, one pruned scan — identical read shape, " +
        "fewer leaf files under each probed list, which is the point: " +
        "the merge bounds the per-list file count a probed scan pays " +
        "under streaming ingest, content-neutral by construction " +
        "(q112's oracle verbatim gates it)."),
    "q116_qcut_ingest" ->
      ("The quality cut read back from the INGEST registry: admitted() " +
        "ranks over the per-source score HISTOGRAM built from the " +
        "registry scan (one partial+final aggregate), the window sits " +
        "above that KB-scale histogram — never over documents — and the " +
        "cutoffs come back through a broadcast join onto the registry " +
        "rows; the only corpus-sized pass is the one registry scan."),
    "q117_containment_ingest" ->
      ("Containment at ingest: this dump shows the MEMOIZED serving read " +
        "(later same-JVM passes serve the first pass's persisted " +
        "verdicts — the q116 pattern). The first pass per JVM runs the " +
        "real even-half ingest: small batches probe the registry via a " +
        "pushed In(shingle_md5, ...) over key-sorted row groups " +
        "(O(matched + footers) scan I/O — the r17 pruning, spec-pinned); " +
        "a corpus-half batch like this one takes the documented " +
        "streaming-join fallback (registry map-side, shuffle = matched " +
        "postings), then q113's blocking/verify algebra — same " +
        "rare-shingle bound (df ≤ 8), no CartesianProduct, nothing " +
        "corpus-sized shuffled."))

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan evidence for the scale claims\n\n"
    sb ++= s"Generated by `graft.Plans` over `$dir`. Each section states the\n"
    sb ++= "property the plan demonstrates; the machine-checked versions of\n"
    sb ++= "these assertions are in `PlanQualitySpec` and `StorageLayoutSpec`.\n"

    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb ++= s"\n## $name\n\n$why\n\n```\n"
      sb ++= df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim
      sb ++= "\n```\n"
    }

    // measured scale-slope evidence, regenerated by graft.tools.ScaleBench
    val scaleMd = java.nio.file.Paths.get("SCALE.md")
    if (java.nio.file.Files.exists(scaleMd)) {
      sb ++= "\n"
      sb ++= new String(java.nio.file.Files.readAllBytes(scaleMd),
        java.nio.charset.StandardCharsets.UTF_8)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote $out")
    spark.stop()
  }
}
