"""Generate PLANS.md: formatted physical plans of the headline queries
with the scale-relevant properties annotated. Evidence artifact for
plan-quality review; regenerate with `python tools/dump_plans.py`.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import medallion_architecture_using_apache_iceberg_table_buckets_spark as mats
from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
    relational as R,
)

SF_DIR = "/root/testdata/sf0.001"

QUERIES = {
    "s1_scan_filter_project": (
        R.s1_scan_filter_project,
        "Predicate pushed to Parquet (PushedFilters), 3-column ReadSchema.",
    ),
    "q1_pricing_summary": (
        R.q1_pricing_summary,
        "Partial+final HashAggregate pair; decimal sums inside codegen.",
    ),
    "q5_region_revenue": (
        R.q5_region_revenue,
        "Small dims broadcast (BroadcastHashJoin); no shuffle of lineitem "
        "for the dimension joins.",
    ),
    "o1_topk_latest": (
        R.o1_topk_latest,
        "TakeOrderedAndProject: per-partition top-k + merge, no global sort.",
    ),
    "w1_latest_per_key": (
        R.w1_latest_per_key,
        "Single hash-shuffle on user_id feeding WindowExec row_number.",
    ),
    "asof_click_purchase": (
        R.asof_click_purchase,
        "As-of join as union + ordered window: one shuffle on the key, "
        "no range or cross join anywhere in the plan.",
    ),
    "q4_priority_late_exists": (
        R.q4_priority_late_exists,
        "EXISTS as a left-semi hash join (no distinct of the probe side); "
        "the non-equi lateness predicate rides as the join residual.",
    ),
    "q19_disjunctive_predicates": (
        R.q19_disjunctive_predicates,
        "Common equi-conjunct extracted from the OR-of-ANDs: hash join on "
        "partkey with the disjunction as residual — never a nested loop.",
    ),
    "q17_small_quantity_revenue": (
        R.q17_small_quantity_revenue,
        "Per-group scalar AVG algebraized to (sum, count), broadcast back; "
        "one wide exchange total, threshold compared division-free.",
    ),
    "q22_dormant_customers": (
        R.q22_dormant_customers,
        "1-row global threshold broadcast into the pool scan; dormancy as "
        "left-anti join on the date-filtered (pushed-down) orders side.",
    ),
    # round-5 TPC-H completion
    "q2_min_cost_supplier": (
        R.q2_min_cost_supplier,
        "Correlated per-part MIN decorrelated into a WINDOW over the "
        "eligible relation — ONE pass (a grouped-min join-back scans the "
        "join subtree twice); part/nation/region broadcast.",
    ),
    "q16_parts_supplier_counts": (
        R.q16_parts_supplier_counts,
        "NOT IN denylist planned as a broadcast LEFT ANTI hash join; "
        "count(DISTINCT) expands to the two-phase aggregate.",
    ),
    "q20_promotable_suppliers": (
        R.q20_promotable_suppliers,
        "Nested semi-join: conditional half-sum HAVING on the composite "
        "key, then LEFT SEMI into the supplier dimension — no row "
        "multiplication anywhere.",
    ),
}


def llm_queries_section():
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        llm_queries as L,
        relational as R,
    )

    return {
        "text_decontaminate": (
            L.text_decontaminate,
            "Benchmark shingle set broadcast (map-side semi probe of the "
            "corpus shingles); wide exchanges only for the per-doc counts.",
        ),
        "text_tfidf_topk": (
            L.text_tfidf_topk,
            "df-table join strategy left to AQE (r4: the pinned broadcast "
            "was removed — the vocabulary is corpus-sized at web scale, so "
            "only a runtime-small build side may broadcast); 1-row corpus "
            "count stays an explicit broadcast; one per-doc window for "
            "the top-k.",
        ),
        "sketch_hll_rollup_merge": (
            L.sketch_hll_rollup_merge,
            "Two map-side-combined aggregations (fine HLL registers, then "
            "register union) — shuffle payload is one sketch per group, "
            "independent of entity cardinality; the exactness-validation "
            "join is AQE-broadcast of the per-type row.",
        ),
        # round-5 curation additions
        "text_pii_scrub": (
            L.text_pii_scrub,
            "Map-only: three regexp_count + three ordered regexp_replace "
            "per row inside one WholeStageCodegen span — zero exchanges.",
        ),
        "text_paragraph_dedup": (
            L.text_paragraph_dedup,
            "Expression-side paragraph build (no per-word explode), one "
            "posexplode, heavy-hitter count-distinct, UNPINNED left join "
            "(AQE picks broadcast only if the common set is runtime-small), "
            "order-preserving collect_list+array_sort rebuild.",
        ),
        # round-5 final block
        "dedup_semantic": (
            L.dedup_semantic,
            "SemDeDup: broadcast-centroid Arrow-cosine assignment (codegen "
            "hash-agg argmax, embedding rejoined by id), then the "
            "intra-cluster pair join as a real EQUI-join on centroid_id — "
            "quadratic only within a cluster (the n_centroids knob), never "
            "an all-pairs plan on the corpus.",
        ),
        "sketch_theta_set_ops": (
            L.sketch_theta_set_ops,
            "One conditional-agg pass builds both segment sketches; set "
            "algebra is register-only on a 1-row frame; the exactness "
            "check joins two 1-row aggregates by scalar broadcast.",
        ),
        "sketch_kll_rollup_quantiles": (
            L.sketch_kll_rollup_quantiles,
            "Fine KLL cells via one map-side-combined agg; the coarse "
            "merge folds a bounded per-group sketch list (KB-sized "
            "sketches, hundreds of cells); rank-bound validation is one "
            "more aggregation over the fact table.",
        ),
        # round-5 extended block (pure-relational members; the
        # table-building queries have dedicated plan tests in their
        # pytest suites)
        "scd2_user_status_history": (
            L.scd2_user_status_history,
            "Run-collapse lag + running count and the interval lead are "
            "ALL windows over (user_id) — every exchange is keyed by the "
            "dimension key, no global window, no driver state.",
        ),
        "scd2_temporal_enrich": (
            L.scd2_temporal_enrich,
            "As-of interval join plans as a KEYED equi-join on user_id "
            "with the half-open range as residual condition (AQE picks "
            "hash vs sort-merge) — never BNLJ/cartesian; scales with the "
            "fact side.",
        ),
        "corpus_mixture_weights": (
            L.corpus_mixture_weights,
            "Map-only token count -> one shuffle to #domains rows -> "
            "explicit 1-row scalar broadcast for the total; the mixture "
            "arithmetic runs on a domains-sized frame.",
        ),
        "text_repeated_spans": (
            L.text_repeated_spans,
            "ExactSubstr coverage, r6 lead-window formulation: one "
            "tokenize per doc, positional-token explode (map-only), "
            "k-gram assembly via lead() windows on doc_id (whole-stage "
            "codegen — the former transform() lambda was CodegenFallback "
            "and InferFiltersFromGenerate re-ran the tokenizer per gram "
            "element, 30+ min at 10x), one count shuffle on gram, "
            "candidate join back on gram (AQE decides), islands merge "
            "reuses the doc_id shuffle. No all-pairs stage.",
        ),
        # round-6 additions
        "text_ngram_lm_score": (
            L.text_ngram_lm_score,
            "Bigram-LM surprisal: map-side-combined unigram/bigram "
            "counts, scoring joins keyed on the gram (corpus-sized, AQE "
            "decides), 1-row vocabulary scalar broadcast, exact "
            "integer micro-unit aggregation per doc.",
        ),
        "ann_ivfpq_topk": (
            L.ann_ivfpq_topk,
            "IVF-PQ composed: broadcast centroid probe restricts the "
            "code stream via two keyed equi-joins (vec_id, centroid_id), "
            "broadcast (query, subspace, code) LUT, map-side-combined "
            "(query, vec) partial sums, keyed exact-rerank join. "
            "Stored vectors read only for the shortlist.",
        ),
        "multimodal_resize_pixels": (
            L.multimodal_resize_pixels,
            "Arrow mapInPandas chain (synthesize -> decode -> numpy "
            "nearest-neighbor gather) — partition-parallel, zero "
            "exchanges, blobs never leave the executor.",
        ),
        "text_bm25_topk": (
            L.text_bm25_topk,
            "One tokenize + filtered explode; df/avgdl as 1-row and "
            "per-term scalar broadcasts back onto the tf stream; "
            "integer micro-unit contributions summed exactly; final "
            "top-k is TakeOrderedAndProject. Nothing corpus-sized on "
            "a build side.",
        ),
        "sample_weighted_by_source": (
            L.sample_weighted_by_source,
            "Scan-local hash draw + quantized A-ES key, one window "
            "shuffle on the group key; global k is a "
            "TakeOrderedAndProject (no single-partition window).",
        ),
        "bpe_encode_tokens": (
            L.bpe_encode_tokens,
            "Learning: bounded sequential driver argmax over the "
            "distinct-word table (6 rounds). Application: map-only — "
            "the merge chain composes as 6 nested delimiter-safe JVM "
            "replaces inside one projection; zero exchanges after "
            "the word-frequency aggregation.",
        ),
        "range_join_event_windows": (
            R.range_join_event_windows,
            "KEYLESS interval containment: the epoch bucket is the "
            "entire join key — hash/sort-merge join, range as residual; "
            "the naive spelling would be a cross product.",
        ),
        "table_quality_checks": (
            R.table_quality_checks,
            "All row predicates fuse into ONE Aggregate per table "
            "(adding checks never adds scans); unique = one key-local "
            "count shuffle; FK = one anti-join AQE can broadcast.",
        ),
        "sketch_cms_frequencies": (
            L.sketch_cms_frequencies,
            "CMS cells: depth-row explode (map-only) + one key-local "
            "count shuffle bounded by groups*depth*width; probe joins "
            "the tiny query set to merged cells — the fact table is "
            "scanned once for the sketch, once for the exact check.",
        ),
        "hybrid_bm25_ann_topk": (
            L.hybrid_bm25_ann_topk,
            "RRF fusion: two independent top-20 branches (BM25 "
            "single-tokenize; IVF-PQ broadcast-probe ADC) meet in ONE "
            "keyed full-outer join over 20-row lists + "
            "TakeOrderedAndProject — fusion adds no corpus-sized "
            "shuffle.",
        ),
        "ann_ivfsq_topk": (
            L.ann_ivfsq_topk,
            "IVF + int8 scalar quantization: map-only encode (NO "
            "training jobs — the build-time contrast to IVF-PQ), "
            "broadcast centroid probe, asymmetric scoring joins the "
            "1-byte-per-dim code stream to the broadcast query set "
            "on centroid_id, keyed exact rerank.",
        ),
        "decontaminate_semantic": (
            L.decontaminate_semantic,
            "Semantic decontamination: benchmark probe set (own + "
            "Hamming-1 buckets) BROADCAST onto the map-only-bucketed "
            "training side — a keyed bucket equi-join, corpus never "
            "shuffled, exact cosine on candidates only.",
        ),
        "curation_ccnet_buckets": (
            L.curation_ccnet_buckets,
            "CCNet bucketing: map-only langid + the ngram-LM plan + "
            "per-language tercile bounds as a #languages-row "
            "broadcast — bucket assignment is a map-side comparison, "
            "never a per-language global sort/ntile.",
        ),
        "tokenizer_unigram_vocab": (
            L.tokenizer_unigram_vocab,
            "Unigram-LM EM on the DISTINCT-WORD table (the Zipf "
            "reduction BPE also rides): corpus touched once; the "
            "Viterbi E-step is a single map-only Arrow pandas_udf "
            "stage per round with the vocabulary-sized model "
            "broadcast (collected post-quantization, Python-bigint "
            "DP replays the score*8+k argmax bit-for-bit) — the "
            "join-unrolled DP it replaced accumulated "
            "BigInteger-stats towers at every checkpoint.",
        ),
        "tokenizer_unigram_encode": (
            L.tokenizer_unigram_encode,
            "Unigram apply: same EM, then one more map-only "
            "fixed-model Viterbi pass builds the word->pieces map, "
            "broadcast onto the position-exploded corpus; evidence "
            "agg is one hash-agg by doc_id.",
        ),
        "tokenizer_wordpiece_vocab": (
            L.tokenizer_wordpiece_vocab,
            "WordPiece induction: per round one pair-count + one "
            "symbol-count aggregation over the word table, "
            "likelihood argmax as a driver-side 1-row collect "
            "(the BPE/Lloyd precedent), fixpoint replace rounds.",
        ),
        "tokenizer_wordpiece_encode": (
            L.tokenizer_wordpiece_encode,
            "WordPiece apply: BERT greedy longest-match as a "
            "broadcast-inventory Arrow pandas_udf over the word "
            "table (map-only), then the corpus broadcast join + "
            "one evidence hash-agg.",
        ),
        "sample_doremi_mixture": (
            L.sample_doremi_mixture,
            "DoReMi reweighting: the LM stream's corpus-sized gram "
            "equi-joins, one hash-agg to source granularity, then "
            "scalar-sized arithmetic with 1-row totals/normalizer "
            "broadcasts; exp nano-quantized before the sum.",
        ),
        "curation_nb_classifier": (
            L.curation_nb_classifier,
            "Naive Bayes train+apply: three word-stream "
            "aggregations, occurrence x broadcast-class fan-out, "
            "keyed (word,class) count join, BIGINT score sums; "
            "argmax window partitions by doc_id only.",
        ),
        "text_cdc_chunks": (
            L.text_cdc_chunks,
            "CDC: explode + per-doc running-sum window (never "
            "global) + one (doc, chunk) hash-agg — boundaries are "
            "content hashes, so chunk identity survives edits.",
        ),
        "dedup_cdc_chunk_pairs": (
            L.dedup_cdc_chunk_pairs,
            "Chunk-overlap dedup: stop-chunk frequency cap BEFORE "
            "the fp self-join bounds fan-out; the join is a keyed "
            "equi-join on chunk_fp, never a cross product.",
        ),
        "dedup_keep_best_quality": (
            L.dedup_keep_best_quality,
            "Canonical selection: bounded-round component labeling, "
            "corpus-sized scores equi-join, argmax window per "
            "component_id (never global).",
        ),
        "multimodal_audio_features": (
            L.multimodal_audio_features,
            "Arrow mapInPandas synth + decode + frame features — "
            "partition-parallel, zero exchanges; features are "
            "integer-exact but the micro-unit RMS.",
        ),
        "multimodal_video_motion": (
            L.multimodal_video_motion,
            "Arrow mapInPandas synth + decode + frame-pair diffs — "
            "partition-parallel, zero exchanges, integer-exact.",
        ),
        "multimodal_decode_jpeg": (
            L.multimodal_decode_jpeg,
            "Arrow mapInPandas synth + decode chain — "
            "partition-parallel, zero exchanges, blobs never leave "
            "the executor; the Huffman/IDCT work is per-row Python "
            "inside Arrow batches (stdlib-only constraint, same as "
            "the PNG unfilter).",
        ),
        "ann_ivfpq_residual_topk": (
            L.ann_ivfpq_residual_topk,
            "Residual IVF-PQ: codes quantize v - centroid(v) (16-row "
            "broadcast join + map-only subtract, persisted once for "
            "training's multi-pass); ADC adds nprobe-row qc and "
            "16*8*16-row cross-term broadcasts — same single "
            "corpus-sized (query, vec) partial-sum shuffle as the raw "
            "path.",
        ),
        "metadata_agg_pushdown": (
            L.metadata_agg_pushdown,
            "Aggregate pushdown: the plan aggregates a "
            "driver-built LocalRelation manifest frame (one row per "
            "live data file) — no parquet scan node anywhere; WHERE and "
            "GROUP BY evaluate on file-constant typed columns, so "
            "the whole query is O(#files) regardless of table "
            "bytes.",
        ),
        "metadata_agg_mor_count": (
            L.metadata_agg_mor_count,
            "MOR COUNT(*) pushdown: identical manifest-frame shape "
            "to metadata_agg_pushdown (no parquet scan node); live "
            "rows fold as recorded rows minus the per-target delete "
            "counts the delete commits put in the manifest — still "
            "O(#files) with delete files present.",
        ),
        "text_sparse_retrieval_topk": (
            L.text_sparse_retrieval_topk,
            "Sparse TF-IDF retrieval: the weighted posting table is "
            "built in ONE tokenize pass and persisted (the inverted-"
            "index materialization — InMemoryTableScan on every "
            "consumer); query postings broadcast onto it; dots/norms "
            "are integer sums in DECIMAL(38,0), top-k per query is "
            "one window over probe-hit rows only.",
        ),
        "sample_dsir_selection": (
            L.sample_dsir_selection,
            "DSIR: one persisted per-doc bucket-count pass; the "
            "1024-row log-ratio model table broadcasts (hashed "
            "features exist so the model stays broadcastable); "
            "selection is TakeOrderedAndProject, never a "
            "one-partition global window.",
        ),
        "text_kn_lm_score": (
            L.text_kn_lm_score,
            "Kneser-Ney: four map-side-combined gram aggregates; "
            "scoring joins are gram-keyed (AQE strategy); the "
            "bigram-type total is a 1-row broadcast; per-occurrence "
            "surprisal micro-quantized before the per-doc sum.",
        ),
        "text_phrase_retrieval": (
            L.text_phrase_retrieval,
            "Phrase search: scan-local isin() drops every posting "
            "outside the 3 phrase terms BEFORE any shuffle; the "
            "adjacency test is equi-joins on (doc_id, pos-i) aligned "
            "starts — no window, no cross product.",
        ),
        "metadata_ndv_sketch": (
            L.metadata_ndv_sketch,
            "Puffin-twin NDV: the estimate aggregates a "
            "driver-built LocalRelation of per-file HLL register blobs "
            "(one row per live file) through hll_union_agg — zero "
            "data IO at query time; the sketches were recorded at "
            "write time from the just-written files.",
        ),
        "maintenance_rewrite_posdeletes": (
            L.maintenance_rewrite_posdeletes,
            "Posdelete consolidation evidence: the returned counts "
            "aggregate the rewritten manifest frame only (no parquet "
            "scan node); the rewrite itself reads O(deleted rows) "
            "delete files once and swaps them metadata-only.",
        ),
        "events_funnel": (
            R.events_funnel,
            "Ordered funnel: scan-local stage filter, three "
            "conditional-min aggregates chained by user_id equi-"
            "joins — no per-user arrays, every shuffle on the user "
            "key.",
        ),
        "events_cohort_retention": (
            R.events_cohort_retention,
            "Cohort retention: distinct (user, day) aggregate, "
            "per-user min, one user-keyed join, (cohort, offset) "
            "count — tiny output, user/cohort-keyed shuffles only.",
        ),
        "graph_pagerank_dedup": (
            L.graph_pagerank_dedup,
            "PageRank: bounded rounds over the banded pair graph — "
            "each round one edge-keyed aggregate + node-keyed join "
            "on localCheckpointed integer scores; edges never come "
            "from an all-pairs join.",
        ),
        "ann_matryoshka_recall": (
            L.ann_matryoshka_recall,
            "Matryoshka recall: per truncation dim the probe set "
            "(10 rows) broadcasts onto a map-only sliced-vector "
            "scan; hit counting is a left-semi join of k-sized "
            "lists.",
        ),
        # round-9 additions
        "dedup_exact_substr_pairs": (
            L.dedup_exact_substr_pairs,
            "ExactSubstr: positioned-shingle EQUI-join (df<=32 cap "
            "broadcast/keyed, never all-pairs) seeds the diagonals; "
            "one window partitioned by (pair, diagonal) — bounded "
            "by doc length — extends maximal runs; two bounded "
            "hash-aggs close it.",
        ),
        "text_winnowing_fingerprints": (
            L.text_winnowing_fingerprints,
            "Winnowing: map-side cover explode (x window), two "
            "(doc, start)-keyed hash-aggs for min + rightmost "
            "argmin, per-doc rollup — no corpus-global window, no "
            "self-join.",
        ),
        "dedup_winnowing_pairs": (
            L.dedup_winnowing_pairs,
            "Fingerprint pairs: stop-hash cap BEFORE the fp "
            "equi-join (bounded fan-out per hash), same blocked-"
            "join discipline as the CDC/MinHash pair generators.",
        ),
        "text_mojibake_score": (
            L.text_mojibake_score,
            "Map-only: length-difference counting of literal "
            "sequences inside one WholeStageCodegen span — zero "
            "exchanges beyond the planted union.",
        ),
        "text_length_outliers": (
            L.text_length_outliers,
            "Two bounded source-keyed percentile aggregates "
            "(median, MAD) + one source-keyed recount; the cut is "
            "exact half-integer arithmetic, no corpus window.",
        ),
        "sample_reservoir_source": (
            L.sample_reservoir_source,
            "Bottom-k-by-md5: one window per source partition over "
            "draw keys — bounded group domains; no global sort, no "
            "driver randomness.",
        ),
        "dedup_ngram_novelty": (
            L.dedup_ngram_novelty,
            "Novelty: shingle-keyed min-doc aggregate + doc-keyed "
            "rollup, piggybacking the same inverted-index shuffle "
            "key every dedup family uses.",
        ),
        "dedup_cluster_size_histogram": (
            L.dedup_cluster_size_histogram,
            "Components closure (bounded-round label propagation) + "
            "two bounded hash-aggs; edges come from the banded "
            "MinHash join, never all-pairs.",
        ),
        "ann_range_search": (
            L.ann_range_search,
            "Fixed-radius: 10-row probe set broadcast over ONE "
            "corpus scan, rounded-cosine filter IS the selection — "
            "no per-query window at all (cheapest threshold-query "
            "shape).",
        ),
        "events_attribution": (
            R.events_attribution,
            "Last-touch: asof_join union + per-user window forward-"
            "fill (ONE user-keyed shuffle, no range join); 7-day "
            "window is a map-side filter; day rollup is bounded.",
        ),
        "events_funnel_latency": (
            R.events_funnel_latency,
            "Conditional-min chains on the user key (events_funnel "
            "discipline), then one global percentile over per-USER "
            "latency scalars — corpus-bounded, never per-event.",
        ),
        "events_user_ltv_deciles": (
            R.events_user_ltv_deciles,
            "r10 DISTRIBUTED RANK rewrite: range repartition on "
            "(rev desc, user_id), pid-PARTITIONED row_number + "
            "broadcast cumulative offsets; the only SinglePartition "
            "window is the <= #shuffle-partitions counts frame. "
            "ntile math derived integer-exactly from (rank, n); the "
            "agg+range exchange is ReuseExchange-deduplicated at "
            "runtime. Plan fence: "
            "test_ltv_deciles_window_is_partitioned.",
        ),
        "corpus_heaps_law": (
            L.corpus_heaps_law,
            "Cutoffs derived in-plan from max(doc_id) (broadcast "
            "scalar); the inequality joins are BNLJ against the "
            "10-row cutoff list — fan-out <= 10 per row by "
            "construction; everything else is keyed aggs.",
        ),
        "multimodal_channel_stats": (
            L.multimodal_channel_stats,
            "Arrow mapInPandas decode + numpy strided per-channel "
            "gather; output is (doc, channel)-sized, integer-exact, "
            "no shuffle after the media stage.",
        ),
        "dedup_exact_substr_removal": (
            L.dedup_exact_substr_removal,
            "ExactSubstr APPLY: the same seeded diagonal runs, then "
            "ONE doc-keyed window over RUN SPANS (rows = matches, "
            "not tokens) for the interval union — the removal "
            "accounting never touches the token stream.",
        ),
        "multimodal_decode_png16": (
            L.multimodal_decode_png16,
            "16-bit chain: map-only synth + decode (Arrow "
            "mapInPandas), bpp=2C byte unfilter, sample-value "
            "checksum in the batch — zero exchanges.",
        ),
        "multimodal_decode_png_sub8": (
            L.multimodal_decode_png_sub8,
            "sub-8/tRNS chain: map-only synth + decode (Arrow "
            "mapInPandas), packed-stride unfilter + bit unpack + "
            "LUT(+alpha) in the batch — zero exchanges.",
        ),
        "multimodal_decode_png_interlaced": (
            L.multimodal_decode_png_interlaced,
            "Adam7 chain: map-only synth + decode stages (Arrow "
            "mapInPandas); the position-weighted checksum is "
            "computed inside the decode batch — zero exchanges.",
        ),
        # round-10 additions
        "dedup_exact_substr_self": (
            L.dedup_exact_substr_self,
            "Unified cross+self ExactSubstr removal: the cross-doc "
            "diagonal runs plus a WITHIN-doc self-join at repeat "
            "distance pos_b - pos_a (same max_df-capped shingle "
            "table, (doc, distance)-keyed windows), both span "
            "sources union into ONE doc-keyed interval-union window "
            "over MATCH spans — never token streams.",
        ),
        "dedup_prefix_filter_pairs": (
            L.dedup_prefix_filter_pairs,
            "AllPairs/PPJoin: doc-partitioned window selects the "
            "|d|-ceil(t|d|)+1 globally-RAREST shingles as the "
            "prefix; candidates come from the prefix equi-join + "
            "length filter (the inverted index's SMALLEST buckets), "
            "then pair-keyed exact verification. Lossless — output "
            "row-identical to the full join.",
        ),
        "multimodal_decode_gif_interlaced": (
            L.multimodal_decode_gif_interlaced,
            "Interlaced/local-table GIF chain: map-only synth + "
            "decode (Arrow mapInPandas) with the 4-pass row scatter "
            "and local-over-global palette inside the batch — zero "
            "exchanges; the positional checksum pins row order.",
        ),
        "dedup_exact_substr_apply": (
            L.dedup_exact_substr_apply,
            "The PRODUCE step: merged cut intervals from doc-keyed "
            "span windows, then ONE doc-keyed left-anti range join "
            "of the positioned token stream against them and a "
            "per-doc array_sort reassembly — no corpus-wide window, "
            "no driver data.",
        ),
        "retrieval_hard_negatives": (
            L.retrieval_hard_negatives,
            "Hard-negative mining: the audited BM25 and IVF-PQ "
            "branches unchanged, then ONE left-anti join of two "
            "k-row lists + a <= k-row re-rank window — no new "
            "corpus-sized shuffle.",
        ),
        "graph_triangle_count": (
            L.graph_triangle_count,
            "Degree-ordered compact-forward triangles: degree agg, "
            "(deg,id)-oriented edges, src-keyed wedge self-join + "
            "(v,w)-keyed closing equi-join — out-degree bounded "
            "O(sqrt(m)) under the orientation, so hubs never fan "
            "out d^2; no all-pairs step.",
        ),
        "text_feature_hashing": (
            L.text_feature_hashing,
            "Hashing trick: one explode + one (doc, bucket) hash-agg "
            "with map-side combine — linear in tokens, keyed by doc "
            "so stopword skew cannot hot-spot a reducer.",
        ),
        "dedup_lsh_recall": (
            L.dedup_lsh_recall,
            "Recall audit: the two audited pair generators unchanged "
            "(prefix-filter exact + banded MinHash), meeting in a "
            "crossJoin of two 1-row aggregates.",
        ),
        "multimodal_decode_qoi": (
            L.multimodal_decode_qoi,
            "QOI chain: map-only synth + decode on Arrow mapInPandas "
            "— zero exchanges; blobs never leave the executor.",
        ),
        "source_webdataset_roundtrip": (
            L.source_webdataset_roundtrip,
            "Tar shards: shard-keyed applyInPandas pack (bounded "
            "blob per group), mapInPandas tar walk, one (shard, key) "
            "hash-agg to re-associate members — the shard is the "
            "parallelism unit at any scale.",
        ),
        "embedding_gram_matrix": (
            L.embedding_gram_matrix,
            "Arrow partial-Gram: each task folds its batches to one "
            "dim x dim integer matrix and emits 2080 rows; the only "
            "shuffle is #partitions x 2080 rows into a constant-key "
            "agg (measured 67x over the nested-transform plan).",
        ),
        "events_markov_transitions": (
            R.events_markov_transitions,
            "ONE user-keyed shuffle for the lag window, bounded "
            "(prev,type) hash-agg; the normalizing window runs over "
            "the <= n_types^2-row matrix, never event cardinality.",
        ),
        "dedup_minhash_estimator_error": (
            L.dedup_minhash_estimator_error,
            "The signature/banding machinery of minhash_lsh_pairs "
            "unchanged; the estimate adds a 12-column comparison on "
            "the already-joined candidate rows.",
        ),
        "text_source_divergence": (
            L.text_source_divergence,
            "Integer-exact TV drift: (source, term) agg, term-keyed "
            "join to corpus counts, two bounded per-source aggs, one "
            "1-row broadcast — missing-term mass folded closed-form, "
            "never an outer join against the vocabulary.",
        ),
        "multimodal_transcode_qoi": (
            L.multimodal_transcode_qoi,
            "PNG->QOI transcode: two codecs chained in one Arrow "
            "mapInPandas pass — zero exchanges, blobs never leave "
            "the executor.",
        ),
        "corpus_token_budget": (
            L.corpus_token_budget,
            "Distributed ranked prefix-sum: range repartition on the "
            "quality order, pid-PARTITIONED local cumsum + broadcast "
            "cumulative offsets (the LTV machinery on a cumulative "
            "measure); the 1-row budget scalar is the only BNLJ.",
        ),
        # r10 third window
        "events_basket_lift": (
            R.events_basket_lift,
            "A-priori downward closure FIRST: frequent-part list "
            "broadcast back onto the (order, part) frame, so the "
            "order-keyed pair self-join sees only frequent items; "
            "pair fan-out bounded by order width; ppm metrics in "
            "BIGINT `div` (no doubles).",
        ),
        "events_rfm_segments": (
            R.events_rfm_segments,
            "ONE conditional user-keyed agg builds R/F/M, then three "
            "_distributed_ntile range exchanges over the user frame "
            "(pid-partitioned row_number + broadcast offsets each); "
            "final rollup is a bounded 125-cell agg. Plan fence: "
            "test_rfm_ntile_windows_are_partitioned.",
        ),
        "events_rolling_mad_anomaly": (
            R.events_rolling_mad_anomaly,
            "ONE user-keyed shuffle; the frame is a bounded 7-row "
            "rowsBetween so per-row state is O(7) at any corpus "
            "size; median/MAD arithmetic runs on the 7-element "
            "array inside codegen, no UDF.",
        ),
        "events_user_diversity": (
            R.events_user_diversity,
            "Two keyed aggs with map-side combine ((user,type) then "
            "user); per-user fan-in bounded by the event-type "
            "vocabulary; Gini-Simpson in exact ppm integer math.",
        ),
        "events_kanonymity": (
            R.events_kanonymity,
            "Two-level agg so the distinct-user count never funnels: "
            "(QI, user) partial then QI rollup — both map-side "
            "combined keyed shuffles.",
        ),
        "dedup_split_leakage": (
            L.dedup_split_leakage,
            "Pairs from the audited prefix-filter join (rarest-"
            "shingle prefixes, never all-pairs); split is map-only "
            "md5; label attachment is two doc-keyed equi-joins of "
            "the tiny pair list.",
        ),
        "multimodal_decode_adpcm": (
            L.multimodal_decode_adpcm,
            "Map-only synth + decode on Arrow mapInPandas — zero "
            "exchanges; the IMA state machine runs per blob inside "
            "the executor.",
        ),
        "multimodal_decode_tiff": (
            L.multimodal_decode_tiff,
            "Map-only synth + decode (both byte orders, strips, "
            "PackBits) on Arrow mapInPandas — zero exchanges.",
        ),
        "multimodal_decode_tga": (
            L.multimodal_decode_tga,
            "Map-only synth + decode (RLE packets, origin flip, BGR "
            "undo) on Arrow mapInPandas — zero exchanges.",
        ),
        "events_churn_hazard": (
            R.events_churn_hazard,
            "User-keyed lifetime agg, then the at-risk cumsum over "
            "the calendar-bounded lifetime histogram — the "
            "unpartitioned window is planning-scale, never user "
            "cardinality; hazard in BIGINT div ppm.",
        ),
        "graph_kcore_dedup": (
            L.graph_kcore_dedup,
            "Bounded-round peel: per round two semi-filters of the "
            "persisted edge list + one degree agg, localCheckpoint "
            "lineage cuts; per-round live counts are driver scalars "
            "(components/pagerank precedent).",
        ),
        "dedup_image_phash_pairs": (
            L.dedup_image_phash_pairs,
            "aHash on the map-only media shape (5 ints per image "
            "out), then band equi-join candidates (lossless at "
            "radius 3 by pigeonhole) + bit_count verify — never "
            "all-pairs on the corpus.",
        ),
        "text_segment_ttr": (
            L.text_segment_ttr,
            "One posexplode + (doc, seg)-keyed distinct/count aggs; "
            "group width bounded by the 50-token segment; ppm in "
            "BIGINT div.",
        ),
        "ann_incremental_ivf_append": (
            L.ann_incremental_ivf_append,
            "Append path touches ONLY the new batch: stale codebook "
            "broadcast onto the batch (scalars-only argmax agg); the "
            "staleness audit's full-corpus retrain is the audited "
            "ivf_centroids chain; the stale/fresh merge is a "
            "batch-sized vec_id equi-join.",
        ),
        "dedup_incremental_components": (
            L.dedup_incremental_components,
            "History closed once; the batch's edges map endpoints to "
            "component supernodes (two label equi-joins), the "
            "min-label iteration runs only on the contracted batch "
            "graph, and touched components relabel via one "
            "label-keyed join — history is never re-closed.",
        ),
    }


def main() -> None:
    spark = mats.get_spark(app_name="dump-plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# PLANS — formatted physical plans of headline queries",
           "",
           "Auto-generated by `tools/dump_plans.py` at sf0.001. The notes",
           "call out the property each plan must keep at 100 TB.",
           "",
           "## Bench-environment note (r11)",
           "",
           "Standing artifact: BENCH_r11_builder_local.json — the",
           "complete 193-query record (probe 72.5 ms, 301.6 s total,",
           "anchored r01 data-path subset 12.75 s = 0.62x the 20.605 s",
           "baseline; clean solo session, min-of-3 protocol). The r10",
           "verdict's footprint item landed: ann_recall_at_k 16.3 s /",
           "100 jobs -> 13.5 s / 28 jobs (shared IVF upstream + folded",
           "recall arms + AQE off for its hundreds of tiny uniform",
           "exchanges) and ann_ivfpq_residual_topk 11.1 s / 73 jobs ->",
           "9.4 s / 20 jobs — recall floors and oracle hashes",
           "unchanged. The two r11 queries land at 3.8 s",
           "(ann_incremental_ivf_append) and 7.2 s",
           "(dedup_incremental_components — prices the full history",
           "closure + probe + contraction chain). The record now also",
           "carries excluded_sampled (a rotating 10 of the 44",
           "excluded entries, timed: every 'trivial'-class sample ran",
           "sub-second, a strict subset of its named sibling) and the",
           "compact tail line carries the r01-subset per-query",
           "seconds, so driver-tail truncation can no longer lose",
           "them.",
           "",
           "## Scale note (r11): the chained 100x decade",
           "",
           "BENCH_SCALE_r11.json adds a SECOND replica decade (100x",
           "documents/embeddings) for the most expensive auto-tuned",
           "dedup/ANN/text paths. Every chained row lands sublinear at",
           "100x data: minhash pairs 16.2x (87x output rows), components",
           "8.6x, incremental components 8.7x, ann_recall_at_k 3.0x,",
           "IVF-PQ residual 2.8x, BM25 18x, sparse retrieval 33x,",
           "ExactSubstr apply 36x (102x output). The decade surfaced",
           "three real regime findings, all fixed or documented: (1)",
           "_auto_centroids' constant-occupancy rule (k=n/64) sent the",
           "IVF ASSIGNMENT term n*k quadratic — now k ~ sqrt(n/2)",
           "balances assignment against intra-cluster pairing at ~n^1.5",
           "each (FAISS's k ~ sqrt(n) guideline); (2) hyperplane LSH",
           "auto-sizing cannot bound occupancy on low-entropy embedding",
           "distributions — the synth corpus realizes only 128 sign",
           "patterns at ANY plane count (occupancy-sum-of-squares 139k",
           "-> 13.9M -> 1.36e9 across the decades), so",
           "dedup_embedding_lsh_pairs_auto is deliberately NOT chained",
           "and _auto_planes' REGIME LIMIT note routes such",
           "distributions to IVF-clustered candidates (semantic_dedup,",
           "whose auto-k row IS chained: 45.5x at 100x, matching its",
           "~n^1.5 design point); (3) AllPairs/PPJoin prefix filtering",
           "assumes a Heaps-law vocabulary — on the synth corpus's",
           "BOUNDED vocabulary every shingle's df grows linearly and",
           "prefix-bucket pair mass grew 303k -> 20.6M -> 808M across",
           "the decades, so the prefix row is not chained either and",
           "its SECOND REGIME LIMIT note routes bounded-vocab corpora",
           "to MinHash banding (chained, 16x at 100x).",
           "",
           "## Bench-environment note (r10)",
           "",
           "Standing artifact: BENCH_r10_builder_local.json — the",
           "complete 166-query record (probe 76.0 ms, 247.3 s total,",
           "anchored r01 data-path subset 12.00 s = 0.583x the",
           "20.605 s baseline). The round's FIRST full run (165",
           "queries, probe 78.3 ms, 292.0 s, r01 11.15 s, total",
           "spread 85.7 s) was a visibly noisier session; the rerun's",
           "spread fell to 67.8 s and no query regressed between the",
           "two same-code runs at the >1.5x & >1 s bar — the 11.15 vs",
           "12.00 s anchor wobble (0.54-0.58x baseline) is the box's",
           "run-to-run envelope on identical code. Versus r9's record",
           "(212.2 s / 157 queries): +26-30 s is the 9 newly benched",
           "queries; two flagged rows (ann_ivf_topk 2.85 -> ~4.6 s,",
           "tokenizer_wordpiece_encode 2.84 -> ~4.5 s) are",
           "code-untouched with identical n_jobs — solo min-of-3",
           "re-times reproduce them on an idle box, so it is the",
           "session, not load or code; the data-path anchor stays",
           "within its envelope and is the adjudicator. The six r10",
           "queries land at 0.8-7.1 s each; the most expensive",
           "(retrieval_hard_negatives) is an IVF-PQ training + BM25",
           "branch pair, both already in the cost table solo.",
           "",
           "## Bench-environment note (r9)",
           "",
           "Builder run on the r9 box (probe 74.7 ms,",
           "BENCH_r09_builder_local.json, 157 queries, 212.2 s total):",
           "the anchored r01 data-path subset is 11.06 s (0.537x the",
           "20.605 s baseline — the fastest anchored number of any",
           "round). Cross-round per-query deltas vs r8's record are",
           "sub-second and BROADLY distributed across queries whose",
           "code did not change (n_jobs identical), while the",
           "data-path anchor IMPROVED 11.28 -> 11.06 s — the standing",
           "box-not-code adjudication applies; correct any per-query",
           "comparison by wall - n_jobs x sched_probe first. The",
           "nineteen r9 queries all land under 3.3 s each at sf0.1;",
           "the top of the cost table is unchanged (ann_recall_at_k",
           "16.5 s at 100 jobs - four ANN trainings of recall",
           "evidence, probe-bound by design).",
           "",
           "## Bench-environment note (r8): the adjudication is now arithmetic",
           "",
           "bench.py records query_n_jobs (Spark job count per query,",
           "status tracker, job group per run) next to sched_probe_ms,",
           "so the box-vs-code question the r6/r7 notes argued from",
           "probes is now a subtraction: corrected ~= wall - n_jobs x",
           "sched_probe_ms. Builder run on the r8 box (probe 82.3 ms,",
           "BENCH_r08_builder_local.json): the r01 data-path subset is",
           "11.28 s (0.55x the anchored 20.605 s baseline), and the",
           "stage-count-heavy entries decompose as expected — e.g.",
           "sample_dsir_selection wall 4.66 s at 45 jobs is ~3.7 s of",
           "pure scheduling, maintenance_rewrite_posdeletes 2.64 s at",
           "22 jobs ~1.8 s, while the map-only codec queries (2 jobs)",
           "carry almost none. Read every sub-second cross-round delta",
           "against (delta n_jobs x probe) first.",
           "",
           "## Bench-environment note (r7, re: the r5->r6 sub-second regressions)",
           "",
           "The five same-direction r5->r6 moves (dedup_semantic +0.41s,",
           "mor_update_positions +0.30s, text_repetition_scores +0.24s,",
           "partition_evolution_scan +0.17s, dedup_containment_pairs +0.17s)",
           "track the measurement box's PER-STAGE SCHEDULING LATENCY, not",
           "code: a trivial `sc.parallelize(range(32), 32).count()` (no repo",
           "code) measured 234 ms/job and a 2-stage 1000-row shuffle query",
           "356 ms during the r7 session, vs the ~20-50 ms a healthy",
           "local-mode JVM schedules. Under that inflation every STAGE-COUNT-",
           "heavy query (ANN trainings, lakehouse maintenance, semantic",
           "dedup - all of them tiny-data, many-stage at bench SF) scales its",
           "wall time with stage count, while the data-heavy few-stage r01",
           "subset is unaffected (11.16 s in the same degraded session vs",
           "11.84 s recorded in r6). Git shows the only r5->r6 code change",
           "among the five was semantic_dedup gaining ivf_assign's",
           "small-input gate (ee92657) - which REMOVES an exchange, a",
           "strict plan improvement; the other four paths saw additive-only",
           "module diffs. So the recorded cause is environment jitter at",
           "the sub-second magnitude, not a plan regression. Per-query",
           "times below ~1 s should be read with a",
           "+/-(stage_count x scheduler-latency) error bar.",
           "",
           "Late-r7 re-probe (after the r7 additions, idle box, load ~3/32",
           "cores, /tmp fsync 0.77 ms): RDD job fixed cost 146 ms (1 task)",
           "/ 243-261 ms (32 tasks); SQL-path job fixed cost 51 ms (1",
           "partition) / 99 ms (32) - i.e. 5-10x a healthy local JVM, in",
           "the JVM scheduler itself (Py4J round trip measures 0 ms; disk",
           "and external load ruled out). Consequence for BENCH_r07: every",
           "driver-iterating query (the four-training ann_recall_at_k, Lloyd",
           "loops, BPE/WordPiece merge rounds, lakehouse maintenance chains,",
           "bloom build) inflates by roughly (number of Spark jobs) x 50-250",
           "ms versus the r6 record, while the data-path r01 subset runs",
           "FASTER than r6 (10.76 s vs 11.84 s in the same session) - plan",
           "shapes are unchanged (this file) and sf1 step-up factors stay",
           "linear, so cross-round per-query deltas on stage-heavy entries",
           "measure the box, not the code.",
           ""]
    for name, (fn, note) in {**QUERIES, **llm_queries_section()}.items():
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", f"**Scale property:** {note}", "",
                "```", buf.getvalue().rstrip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
