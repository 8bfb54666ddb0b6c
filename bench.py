"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line with per-query seconds.

Each query is forced end-to-end with a noop write (full materialization, no
driver collect overhead). Spark session build time is excluded; a warmup
query primes the JVM/codegen before timing.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kinesis_data_counter_spark.plans.registry import QUERIES
from kinesis_data_counter_spark.session import get_spark, load_tables

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: counter core, two-level sketch topology, relational breadth,
# dedup family, similarity, text pipeline — the operators whose plans must
# survive a 100 TB scale-up
BENCH_QUERIES = [
    "counter_count_all",
    "counter_distinct_user",
    "counter_two_level",
    "counter_json_props",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q18",
    "window_rank_orders",
    "dedup_exact_props",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "text_lang_id",
    "text_quality",
    "multimodal_media",
    "json_bad_records",
    "kpl_roundtrip",
    # round-1 additions: sketch, temporal-join, and product-analytics shapes
    "counter_topk_users",
    "theta_set_ops_users",
    "retention_cohorts",
    "funnel_signup_purchase",
    "range_join_session_events",
    # incremental curation + packing + bounded-output multimodal
    "dedup_incremental",
    "corpus_pack_sequences",
    "multimodal_resize",
    # round-4: real BMP/WAV container encode+decode through the pure-struct
    # codecs (mapInPandas both directions)
    "multimodal_decode",
    # round-2 additions: CDC state tracking + sketch-rollup hierarchy
    "scd2_user_state",
    "hll_rollup_hierarchy",
    # round-3 additions: remaining heavy families (VERDICT r2 items 1, 8) —
    # wire round-trip through the distributed shard writer, banded hamming
    # join, connected components, and broadcast kNN voting
    "counter_replay_source",
    "dedup_simhash",
    "dedup_clusters",
    "knn_label_propagation",
    # round-4: the corpus-sized auto-labeling sweep through the LSH-bucketed
    # kNN path (VERDICT r3 item 1); knn_label_propagation above is now the
    # honestly-broadcast-sized brute slice
    "knn_label_propagation_bucketed",
    # round-3 additions: engine-portable count-min sketch, explicit
    # Bloom-style runtime-filter join, segment-level cross-doc dedup
    # round-4: PQ codes + ADC scan + exact refine over the embeddings table
    "ann_pq_recall",
    "cms_heavy_hitters",
    "bloom_prune_join",
    "corpus_segment_dedup",
    "text_lm_score",
    "corpus_quality_tiers",
    # round-4 additions: interval-overlap join, single-scan expectations
    # validation, and the end-to-end curation capstone
    "overlap_join_sessions",
    "quality_expectations",
    "corpus_curate_full",
    "counter_jq_generic",
    # round-5 additions: full-jq-surface normalize (def + regex builtins),
    # the sketch-mode RFM recorded path, cluster-keyed leakage-safe
    # splitting, and the PCA moment-pass compression check
    "text_jq_normalize",
    "rfm_segments_sketch",
    "sample_leakage_safe_split",
    "embedding_pca_check",
    # round-5 late additions: the jq INPUT-STREAM partial/final fold,
    # cluster-scoped semantic dedup (SemDeDup), the embedding-space
    # curation capstone, ranked retrieval, the edit-distance join, and the
    # PNG deflate roundtrip
    "counter_jq_stream_fold",
    "dedup_semdedup",
    "corpus_curate_semantic",
    "text_bm25",
    "fuzzy_match_part_names",
    "multimodal_png_roundtrip",
    # round-6 additions: frequency-thresholded boilerplate removal,
    # shuffle-free overlapping chunk fan-out, snapshot versioning diff,
    # PSI drift monitoring, eTLD+1 web curation with the skew-aware
    # domain cap, the no-global-sort shuffle-to-shards layout, and the
    # wordlist gate
    "corpus_boilerplate",
    "corpus_dup_spans",
    "corpus_chunk_overlap",
    "dataset_snapshot_diff",
    "profile_drift",
    "web_domain_curation",
    "corpus_shuffle_shards",
    "text_wordlist_filter",
    # round-6 late addition: the model-based curation gate — NB train +
    # broadcast-join scoring in one plan
    "text_nb_classifier",
    # round-6 late: the web curation capstone (canonical-URL dedup ->
    # domain cap -> NB gate) and the iterative rank table
    "corpus_curate_web",
    "web_domain_rank",
    # round-7 additions: the drained two-level streaming deployment, the
    # n-gram-containment decontamination pass, rank-weighted sampling mix,
    # PMI collocations, winnowing fingerprints, sessionization + Markov
    # transitions, and the two multimodal stats extractors
    "streaming_two_level_replay",
    "corpus_decontaminate",
    "web_rank_weighted_mix",
    "text_pmi_collocations",
    "text_winnow",
    "text_winnow_robust",
    "text_winnow_containment",
    "sessionize_users",
    "events_transitions",
    "multimodal_audio_features",
    "multimodal_image_stats",
    # round-10 addition: the incremental-index segment-dedup stream,
    # drained as 3 ascending-doc_id micro-batches (per-batch cost ∝
    # batch, never the accumulated index history)
    "streaming_segment_dedup",
    # round-11 addition: the probe-and-append MinHash-index stream,
    # drained as 3 ascending-doc_id micro-batches (per-batch probe is
    # batch×(history ∪ batch) bands, never history×history)
    "streaming_neardup_index",
    # round-12 (VERDICT r11 task 1 — close the bench-coverage gap): the
    # 95 registry entries that previously had NO tracked timing. A
    # scale-killer introduced into an unbenched entry would have passed
    # every prior gate; from this round on the bench reads the WHOLE
    # registry, so the regression gate sees every entry's cost. The
    # one-time total jump this causes is annotated in
    # BENCH_NOTES["__coverage_r12"], and the regression gate compares
    # the COMMON query subset across lines (see _prev_tracked_line), so
    # widening coverage can never masquerade as a regression or hide one.
    #
    # counter core long-tail + jq surface
    "counter_count_column", "counter_count_expr", "counter_count_expr_nonbool",
    "counter_partial_merge", "counter_multi_fanout", "counter_variant_props",
    "counter_jq_iterate", "counter_jq_reshape", "counter_jq_select",
    "counter_distinct_expr", "counter_topk_windowed", "counter_distinct_theta",
    "counter_salted_skew", "text_jq_export", "config_pipeline",
    # streaming deployments (each line is a REAL drained stream: fixture
    # prep + availableNow drain + final table reads; the drain is almost
    # all per-batch addBatch work — see the streaming_* notes)
    "streaming_counter", "streaming_stateful_counts", "streaming_curate",
    # windows / sketch rollups / UDAF-UDTF tier (the Python-boundary
    # entries the verdict called out: per-row cost regressions hide here)
    "window_sliding", "window_session", "window_rolling_7d",
    "quantile_rollup_value", "udaf_weighted_median", "udtf_jq_lateral",
    "udtf_token_positions", "recursive_session_chains",
    "grouping_sets_orders", "profile_key_skew", "layout_zorder_prune",
    "asof_split_skew", "asof_user_order", "asof_forward_order",
    # TPC-H full sweep (the join-heavy tail q7/q8/q9/q21 included)
    "tpch_q2", "tpch_q4_semi", "tpch_q7", "tpch_q8", "tpch_q9",
    "tpch_q10", "tpch_q11", "tpch_q12", "tpch_q13", "tpch_q14_promo",
    "tpch_q15", "tpch_q16", "tpch_q17", "tpch_q19", "tpch_q20",
    "tpch_q21", "tpch_q22",
    # relational / product analytics
    "orders_rollup", "events_interarrival", "events_daily_anomaly",
    "rfm_segments", "parts_cube", "stats_histogram", "stats_percentiles",
    "set_ops_customers", "anti_join_idle_customers", "rollup_time_hierarchy",
    "pivot_event_counts", "unpivot_lineitem_metrics",
    "sql_surface_daily_top_types", "gdpr_erasure_audit",
    "join_cardinality_sketch", "profile_events",
    # dedup / embeddings / ANN long-tail
    "dedup_exact_docs", "dedup_embedding_clusters", "dedup_method_agreement",
    "embedding_centroids", "ann_lsh_recall", "ann_ivf_recall",
    "ann_quantized_recall", "ann_ivf_pq_recall", "knn_bucketed_recall",
    "mine_hard_negatives", "ann_hard_negative_agreement",
    # sampling / text long-tail
    "sample_stratified", "sample_token_budget", "sample_hash_split",
    "sample_mix_rates", "sample_weighted_topk", "sample_class_balance",
    "text_repetition", "text_tfidf", "text_redact_pii", "text_token_stats",
    "text_fingerprint", "text_vocab", "text_bigrams", "text_bpe_roundtrip",
    "text_nb_margin_calibration", "web_url_canonical",
    # corpus / multimodal / layout long-tail (layout_compaction times the
    # full fragment-64-files -> compact -> re-read cycle, all in a tempdir)
    "corpus_clean", "multimodal_frame_sample", "layout_compaction",
]


# the 5 heaviest families: scaling-curvature spot check at sf1 (10× data).
# Expected wall-time growth is ~linear in data (plus fixed overheads that
# make small-SF ratios land UNDER 10); anything well past the shuffle-growth
# band flags a plan whose cost curve would not survive 100×.
SF1_SPOT_QUERIES = [
    "corpus_curate_full",
    "corpus_curate_semantic",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "ann_pq_recall",
    "knn_label_propagation_bucketed",
    # round-6: the chunk-frequency agg pair and the skew-aware cap window
    # are the new shapes whose cost curves need a 10x data point
    "corpus_boilerplate",
    "web_domain_curation",
    # round-6 late: the NB gate's two aggregation passes + broadcast
    # scoring — the vocab TakeOrdered must stay flat while token volume 10x's
    "text_nb_classifier",
    # round-6 late: the deepest plan in the registry (URL dedup -> cap ->
    # NB gate); measured FLAT sf0.1->sf1 (7.9s -> 7.7s) — stage-count
    # overhead, not data cost
    "corpus_curate_web",
    # round-7: the iterative rank table (pagerank loop + broadcast mix)
    # and the drained two-level streaming deployment — sf1 events are 10x
    # DENSER (same 720 windows, 10x rows/users), so the exchange row count
    # must stay flat while input volume 10x's
    "web_rank_weighted_mix",
    "streaming_two_level_replay",
    # round-9: the every-offset gram explode (heaviest shuffle bytes per
    # token in the registry) and the persisted fp self-join
    "corpus_dup_spans",
    "text_winnow_containment",
    # round-10: the 3 steepest ratios from the FULL 79-query sf1 sweep
    # (VERDICT r9 task 2) — all comfortably inside the linear band (max
    # 5.5x at 10x data), promoted so their curvature stays watched
    "text_winnow_robust",
    "rfm_segments_sketch",
    "retention_cohorts",
    # round-12 (VERDICT r11 task 4): the two incremental-index streams at
    # sf1 — SAME batch count (3), 10x the rows per batch, which turns the
    # fixed-floor claim into measurement: with t = floor + c*rows and two
    # scales at the same batch count, the intercept (per-batch job
    # scheduling inside addBatch; streaming bookkeeping is ~0.3s) falls
    # out as floor = (10*t_sf0.1 - t_sf1)/9, and its share of wall time
    # must DROP at sf1 if the floor is real and fixed (see the
    # streaming-floor block after the spot loop).
    "streaming_segment_dedup",
    "streaming_neardup_index",
]
SF1_LINEAR_BAND = 15.0  # 10× data + superlinear shuffle slack

# the streaming sf1 spots whose two-point linear fit decomposes wall time
# into a fixed per-drain cost (intercept) vs data-proportional compute
STREAMING_FLOOR_SPOTS = ("streaming_segment_dedup", "streaming_neardup_index")

# round-11 (VERDICT r10 task 4): a SECOND measured decade for the 3
# steepest sf1 ratios — sf1 -> sf10 (100x sf0.1) on purpose-built spot
# fixtures (documents/events/orders only; ~0.5 GB). The strongest
# 100x-design evidence available locally: two decades bracket the cost
# curve, so a plan whose sf0.1->sf1 ratio hid under fixed overheads
# cannot also hide its curvature at sf1->sf10.
SF10_SPOT_QUERIES = [
    "text_winnow_robust",
    "rfm_segments_sketch",
    "retention_cohorts",
    # round-12 (VERDICT r11 task 5): the 3 steepest ratios of the r11 sf1
    # sweep get their second decade (sf10 documents/embeddings spots
    # exist from this round — gen_scale_fixtures.ensure_sf10_spots)
    "knn_label_propagation_bucketed",
    "dedup_minhash_lsh",
    "dedup_clusters",
]
SF10_CAUSES = {
    "text_winnow_robust": (
        "every stage is row/token-proportional: gram explode -> window "
        "min -> per-doc fp agg, one exchange each, no pairwise term; the "
        "sf0.1->sf1 5.46 was fixed costs amortizing and the second "
        "decade must land nearer the data ratio"
    ),
    "rfm_segments_sketch": (
        "one percentile_approx aggregate (bounded sketch state) + a "
        "row-local bucket compare — both scans linear, threshold table "
        "broadcast; no global sort at any scale"
    ),
    "retention_cohorts": (
        "two hash aggs + one user_id join; sf10 events are 100x DENSER "
        "over the same 720 windows, so group count is flat and the "
        "growth is pure row volume through partial+final aggs"
    ),
    "knn_label_propagation_bucketed": (
        "the occupancy rule steps LSH params again at 100x (lsh_bits_for "
        "pins candidates-per-query flat as n grows, lsh_tables_for holds "
        "recall), so cost is corpus x tables through pure bucket "
        "equi-joins — the sf1 4.07 stepped ratio was data growth plus "
        "one param step, and the second decade must show the same "
        "sub-linear shape, never a pair term"
    ),
    "dedup_minhash_lsh": (
        "signature pass is row-linear (96 hashes per doc), banded "
        "equi-join candidates grow with genuine near-dup incidence (the "
        "fixture's replica design keeps cross-replica collisions ZERO, "
        "so pairs grow 10x with docs, never quadratically), exact verify "
        "re-shingles only candidate docs"
    ),
    "dedup_clusters": (
        "inherits dedup_minhash_lsh's linear pair table; the connected-"
        "components loop converges on the pair GRAPH (size ∝ near-dup "
        "population, 10x per decade) with a bounded scalar convergence "
        "check per iteration — iteration count depends on cluster "
        "diameter (fixture-fixed), not corpus size"
    ),
}

# Round-7 adjudication of the four r4->r6 "regressions" (VERDICT r6 task
# 4): text_lm_score / corpus_segment_dedup / cms_heavy_hitters /
# counter_jq_generic. A same-day A/B replay of the ROUND-4 CODE (git
# worktree at 5259b9a) against HEAD, min-of-10 each on a quiet machine,
# showed (r4-code vs HEAD): 0.523 vs 0.522, 1.033 vs 1.111, 0.696 vs
# 0.741, 0.444 vs 0.458 s — parity within the run-to-run noise band (two
# HEAD runs 5 minutes apart differed by up to 11% on these same queries).
# The r4 ARTIFACT mins (0.479/0.974/0.610/0.413) are unreproducible even
# by the r4 code itself today (9-14% above) — machine-state drift (page
# cache / JIT / thermal), not a code regression. No fix needed; the
# tracked BENCH_LOCAL.json history makes future deltas adjudicable
# without this archaeology.

# round-7 profiling attributions (VERDICT r6 task 5) for the steepest
# curvatures — measured quiet-machine, stage-sliced (see commit):
SF1_CAUSES = {
    "corpus_boilerplate": (
        "every stage grows exactly 10x in rows (chunks 36k->360k, distinct "
        "segments 34k->337k); round 8 rebuilt the plan to materialize the "
        "chunk explode ONCE — document frequency comes from two window "
        "functions sharing ONE chunk-hash exchange (null-safe lag(doc) "
        "marks + per-hash sum == count_distinct), no freq agg, no "
        "join-back (was 2 scans + 2 explodes) — measured 1.7x faster at "
        "sf1. Round 9 rewrote the sf1 fixtures as 16-part directories "
        "(the old single ~6 MB parquet file planned as 1-2 input splits, "
        "so this spot measured scan/explode starvation, not the plan); "
        "with real split parallelism the ratio fell 4.88 -> 1.66"
    ),
    "web_domain_curation": (
        "round 8: domain derives from source + a mod-500 site suffix and "
        "the sf1 fixture scales sources 10x with the data (VERDICT r7 "
        "task 3); domain_cap itself was rebuilt as ONE scan + ONE window "
        "shuffle (the old count-join/branch-union plan re-scanned the "
        "table 5x) — the long tail (400 -> 4000 domains) ranks in tiny "
        "parallel groups and only the planted hub.com mega-domain (20% of "
        "rows) serializes, bounded by the concentration the cap removes; "
        "round 9's 16-part fixtures dropped the ratio further, 3.0 -> 1.6"
    ),
    "knn_label_propagation_bucketed": (
        "corpus-sized LSH params step (6 bits,16 tables)->(7,24) at 10x to "
        "pin bucket occupancy; cost = 10x corpus x 1.5x tables candidate "
        "equi-join — sub-linear by the occupancy rule. ratio_params_fixed "
        "(VERDICT r7 task 6) re-times sf1 with params HELD at (6,16) so "
        "the data-growth and param-growth components are separately "
        "visible; fixed params at 10x overflow the target bucket occupancy "
        "(8x the candidates per query), so fixed > stepped is expected"
    ),
    "text_nb_classifier": (
        "two map-side-combined train passes + broadcast scoring are all "
        "token-volume-bound; with round 9's 16-part fixtures feeding the "
        "tokenize stage real split parallelism the ratio is ~1.3 at 10x "
        "(was ~3x against the single-file sf1 fixture)"
    ),
    "web_rank_weighted_mix": (
        "near-FLAT at 10x docs (0.9-1.7x across rounds, run-to-run "
        "noise-dominated): the pagerank loop and mix join run on the "
        "|domains|-sized rank table, which does not grow with corpus "
        "size — cost is iteration/stage overhead, not data"
    ),
    "corpus_dup_spans": (
        "~2.4x at 10x docs (round-9, after fan_out gave the sf0.1 side "
        "real parallelism — pre-fan_out both sides were scan-starved and "
        "the ratio read a misleading ~1.0): every stage grows exactly 10x "
        "in rows (one gram row per corpus token through both shuffles) "
        "and the plan has no pair term to curve — two linear exchanges "
        "(gram hash, then doc), both windows off one sort; sub-linear "
        "wall growth because 32 cores absorb the row growth"
    ),
    "text_winnow_containment": (
        "~1.2x at 10x docs (round-9): the persisted capped (doc, fp) "
        "table grows 10x but winnow selection keeps it at ~2/(w+1) of "
        "gram count, and the hot-fp df cap bounds each fingerprint's "
        "join fan-out, so candidate pairs grow with genuine copy "
        "incidence, not quadratically"
    ),
    "streaming_two_level_replay": (
        "1.4x at 10x-denser events: the exchange row count is fixed at "
        "(windows x 4 batches) regardless of input volume — the level-1 "
        "partial agg absorbs the 10x inside the scan stage, which is the "
        "two-level design's core claim"
    ),
    "text_winnow_robust": (
        "steepest ratio of the r10 full sf1 sweep (5.5x at 10x docs, "
        "2.9s): every stage is exactly 10x rows — one md5 gram struct "
        "per corpus token through the row-local winnow selection, then "
        "the per-doc rollup exchange — no pair term, no window over "
        "anything bigger than a doc; the sf0.1 time (0.5s) is stage-"
        "overhead-dominated, so wall growth approaches the honest 10x "
        "compute growth as overheads amortize. Sub-linear, watched."
    ),
    "rfm_segments_sketch": (
        "4.5x at 10x orders (r10 sweep): the KLL quartile sketches "
        "absorb 10x per-customer partials map-side; cutoff tables stay "
        "bounded and broadcast — growth is the sketch-update compute, "
        "not the exchange"
    ),
    "retention_cohorts": (
        "4.5x at 10x-denser events (r10 sweep): 10x users x fixed "
        "day-offsets through two count_distinct aggregates; output "
        "cardinality (cohort x offset) is fixed, the exchange carries "
        "per-(cohort, offset) partial distinct state scaling with users"
    ),
    "streaming_segment_dedup": (
        "same 3-batch drain with 10x rows per batch: per-batch compute "
        "(within-batch window + anti-join vs the chunk index) scales "
        "with the batch; the per-batch job scheduling inside addBatch is a "
        "fixed per-drain cost — the floor_est/floor_share fields on this "
        "entry are the two-point intercept decomposition (VERDICT r11 "
        "task 4), and floor_share must drop at sf1"
    ),
    "streaming_neardup_index": (
        "same 3-batch drain with 10x rows per batch: the per-batch band "
        "table (computed once, shared by probe/union/append), the "
        "batchx(history∪batch) band probe and exact verify all scale "
        "with the batch and its near-dup incidence; the fixed per-batch "
        "job-scheduling floor is decomposed by the same two-point "
        "intercept fit — floor_share must drop at sf1"
    ),
}

# standing per-query annotations at the DEFAULT sf (emitted as "notes" in
# the result line): measured floors and adjudications that would otherwise
# read as unmet targets or regressions.
BENCH_NOTES = {
    "__coverage_r12": (
        "VERDICT r11 task 1: BENCH_QUERIES widened from 80 to the WHOLE "
        "registry (175 entries) — the 95 previously-unbenched entries "
        "(the UDAF/UDTF Python-boundary tier, streaming_curate, "
        "ann_ivf_pq_recall, the full TPC-H sweep incl. the join-heavy "
        "q7/q8/q9/q21 tail, the counter/text/sampling long-tails) now "
        "carry tracked timings. The total therefore jumps ONE TIME vs "
        "r11's 80-query lines; the regression gate is intersection-based "
        "(common query subset of both lines) so the jump is additive "
        "coverage, not a regression, and remains auditable from the "
        "recorded common_cur_s/common_prev_s pair."
    ),
    "__noise_band_r12": (
        "VERDICT r11 task 3 re-anchor on current HEAD (the r11 "
        "certification predated the persist adjudication): THREE tracked "
        "full-registry (175-query) quiet sf0.1 runs on UNCHANGED code "
        "landed 219.1 s / 235.4 s / 229.4 s. The truly back-to-back pair "
        "(runs 2-3, started minutes apart, both quiet-gate passed) "
        "agrees to 2.6% with median per-query ratio 1.001 — the same "
        "band r11 certified. Run 1, from a different machine epoch ~1 h "
        "earlier, sits 4.7-7.5% below with the offset UNIFORM across "
        "queries (median per-query ratio 1.03-1.06, concentrated in the "
        "streaming/ANN tier) — epoch-to-epoch ambient drift, the same "
        "phenomenon r11 recorded as 115.8 vs 90.75 on identical code. "
        "So: adjacent-run noise ~2.6%, cross-epoch drift up to ~8%; the "
        "1.3 regression gate reads ≥1.2 of real signal even across "
        "epochs. Worst single-query disagreement within the back-to-back "
        "pair: text_tfidf 0.61x / knn_label_propagation 1.24x — "
        "per-query tails remain ~25% noise; judge totals, not tails. "
        "The two-point streaming floor fits inherit the tail noise "
        "(neardup floor_share_sf1 read 0.57 in run 1 but 0.96 in run "
        "2): trust the CROSS-RUN MINIMUM of floor_share, not any single "
        "line's fit."
    ),
    "__noise_band_r11": (
        "VERDICT r10 task 2 certification: after the strict quiet gate "
        "(load1<1.5, load5<3, no foreign pytest/Spark pids, fail-loud on "
        "budget expiry) two back-to-back tracked full sf0.1 runs on "
        "UNCHANGED code landed 118.9s and 115.8s — a 2.6% band (was "
        "14% in r10), so the 1.3 regression gate reads ~1.27 of real "
        "signal again. Worst single-query disagreement among >0.5s "
        "queries in the pair: 23% (web_domain_rank) — per-query deltas "
        "under ~25% remain inside run-to-run noise; judge totals, not "
        "tails."
    ),
    "__methodology_r10": (
        "round 10 added spark.catalog.clearCache() between bench "
        "iterations, which REMOVED an accidental flattering: Spark's "
        "CacheManager matches cached plans by canonicalized-plan "
        "equality, so although every iteration builds fresh DataFrames, "
        "runs 2-5 of any persist()-using query silently reused run 1's "
        "materialized InMemoryRelations and min-of-5 recorded a "
        "warm-cache cost no single production invocation ever pays. "
        "Effect measured on the r10 gate-fix run vs the r9 line "
        "(common-78): the 18 persist-using queries moved 1.34x (35.3s "
        "-> 47.4s — their true per-invocation cost), every other query "
        "1.07x (ambient). Round-over-round totals are comparable again "
        "FROM r10 ON; r1-r9 lines flatter persist-using queries."
    ),
    "streaming_segment_dedup": (
        "the entry times a REAL streaming deployment end-to-end, not one "
        "batch plan: ~1s ascending-slice fixture prep (approxQuantile + 3 "
        "single-file writes — the producer stand-in) + the availableNow "
        "drain of 3 micro-batches, each paying foreachBatch scheduling, a "
        "checkpoint commit, and 2 batch-keyed parquet writes (docs + new "
        "chunk hashes), plus the final drained-table read. Per-batch "
        "compute is batch-proportional (within-batch window + anti-join "
        "against the index); the floor is per-batch job scheduling "
        "inside addBatch, and it amortizes at production batch sizes."
    ),
    "streaming_neardup_index": (
        "like streaming_segment_dedup, the entry times a REAL streaming "
        "deployment end-to-end: ~1s ascending-slice fixture prep + the "
        "availableNow drain of 3 micro-batches, each paying foreachBatch "
        "scheduling, a checkpoint commit, the batch's MinHash band "
        "computation (persisted and SHARED across its three exchange-"
        "incompatible consumers: probe side, union build side, index "
        "append — the unshared variant re-ran the 96-hash pass 3x and "
        "recorded 20.7s), ONE band-index probe join (candidate "
        "generation ∝ |batch|×bands), exact Jaccard verification over "
        "candidate docs read from the corpus store, and 3 batch-keyed "
        "parquet appends, plus the final drained-pairs read. Measured "
        "warm at sf0.1, 4 cores: of the 6.6s drain, addBatch (~45 jobs "
        "per batch) is 5.75s and walCommit + commitOffsets + planning + "
        "offsets 0.29s (streaming_curate: 12.2 / 11.05 / 0.31s). The "
        "fixed floor is job scheduling inside addBatch, not streaming "
        "bookkeeping; it amortizes at production batch sizes."
    ),
    "counter_replay_source": (
        "r10 A/B settled the open r8 '<=2s' target: the floor is NOT the "
        "per-line Python file scan (measured 28ms per 12.5k-line shard, 8 "
        "shards in parallel; json.loads is 19ms of it) — it is the full "
        "produce+consume round-trip the entry deliberately times: write "
        "~0.95s (parquet scan -> repartition(8) pk-routing exchange -> "
        "to_json -> per-task Python DataSource writer + driver concat "
        "commit) plus read+agg ~0.85s (8 Python source partitions + "
        "two-level agg), quiet-machine floor 1.7-2.1s, bench-protocol "
        "min-of-5 ~2.6-2.9s with scheduler/worker-reuse noise on top. "
        "These are fixed per-stage costs at 100k rows — exactly where "
        "network GetRecords calls would sit in a real deployment — and "
        "they amortize with data volume rather than grow, so the number "
        "is a fixture-scale overhead floor, not a scale risk."
    ),
}


def _knn_bucketed_params_fixed(spark, sf_dir):
    """The knn_label_propagation_bucketed plan with LSH params HELD at the
    sf0.1 calibration (6 bits, 16 tables) instead of the occupancy-rule
    step to (7, 24) at 10x data (VERDICT r7 task 6): timing both variants
    at sf1 separates the data-growth component (fixed-params ratio) from
    the param-growth component (stepped ratio) in sf1_spot."""
    from pyspark.sql import functions as F

    import kinesis_data_counter_spark.operators.similarity as SIM

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") % 5 == 0)
    labeled = emb.filter(F.col("vec_id") % 5 != 0)
    n_queries = labeled.count() // 4
    return SIM.knn_agreement_check(
        labeled, queries, dim=64, k=5, min_agreement=0.9,
        method="lsh", num_bits=6, num_tables=16,
        sample_mod=max(4, n_queries // 100),
    ).select("ok")


# a tracked line counts as "full" when it carries at least this many
# per-query timings. This is a CONSTANT, not len(BENCH_QUERIES)-5: coverage
# widens over rounds (80 queries through r11, the whole registry from r12),
# and the last pre-widening line must remain a valid baseline — the
# regression gate compares the COMMON query subset, so lines from different
# coverage eras stay comparable.
FULL_LINE_MIN_QUERIES = 75


def _prev_tracked_line(
    history_path: str, sf: float = 0.1, min_runs: int = 5
) -> dict | None:
    """Last tracked full-query-set result object at the given SF from
    BENCH_LOCAL.json (one JSON object per line, newest last). Skips lines
    produced under a non-default SPARK_BENCH_RUNS or a partial
    BENCH_QUERIES (detected by query count vs FULL_LINE_MIN_QUERIES)."""
    try:
        with open(history_path) as fh:
            lines = [json.loads(ln) for ln in fh if ln.strip()]
    except (OSError, ValueError):
        return None
    for obj in reversed(lines):
        if (
            obj.get("sf") == sf
            and obj.get("runs", 0) >= min_runs
            and len(obj.get("queries", {})) >= FULL_LINE_MIN_QUERIES
            and not obj.get("voided")
        ):
            return obj
    return None


def _prev_tracked_total(history_path: str, sf: float = 0.1) -> float | None:
    obj = _prev_tracked_line(history_path, sf)
    return float(obj["value"]) if obj else None


# total-time regression gate (VERDICT r7 task 7): the sf0.1 min-of-5 total
# must not grow >1.3x vs the previous tracked sf0.1 line without a cause
# annotation (SPARK_BENCH_GROWTH_CAUSE env -> recorded in the history line).
REGRESSION_GATE_RATIO = 1.3

# the driver's BENCH_r{N}.json keeps only the LAST this-many chars of
# stdout; a result line at or past it needs the compact trailing summary
TAIL_WINDOW_CHARS = 2000


def _compact_summary(result: dict) -> dict:
    """Tail-window-sized digest of a full bench result: contract shape
    (metric/value/unit/sf/queries), top-5 slowest queries only, gate
    verdict and the steepest sf1 spot ratio. Everything else lives in the
    full line and the tracked BENCH_LOCAL.json history."""
    timings = result["queries"]
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "sf": result["sf"],
        "runs": result["runs"],
        "n_queries": len(timings),
        "queries": dict(
            sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5]
        ),
        "full_results": "BENCH_LOCAL.json",
        "cpus": result.get("cpus"),
    }
    if "regression_gate" in result:
        g = result["regression_gate"]
        compact["regression_gate"] = {
            "ratio_vs_prev": g["ratio_vs_prev"], "ok": g["ok"],
        }
    spots = result.get("sf1_spot") or {}
    ratios = {
        k: v["ratio"]
        for k, v in spots.items()
        if isinstance(v, dict) and v.get("ratio") is not None
    }
    if ratios:
        worst = max(ratios, key=ratios.get)
        compact["sf1_spot_worst"] = {"query": worst, "ratio": ratios[worst]}
    return compact


def _foreign_work_pids() -> list[str]:
    """PIDs of pytest runs or OTHER Spark JVMs still alive (the bench's
    own Spark has not started when this is checked, so any
    org.apache.spark JVM is foreign). A loadavg that has decayed below
    the gate while a straggler suite is still burning CPU is exactly the
    r10 failure mode this closes."""
    pids: list[str] = []
    try:
        import subprocess

        for pat in ("pytest", "org.apache.spark"):
            r = subprocess.run(
                ["pgrep", "-f", pat], capture_output=True, text=True, timeout=10
            )
            pids += [p for p in r.stdout.split() if p and int(p) != os.getpid()]
    except Exception:  # pgrep absent → fall back to the load criterion alone
        pass
    return pids


def _wait_for_quiet(max_load: float, max_wait_s: float) -> tuple[float, bool]:
    """Block until the machine is genuinely quiet (bounded): 1-min loadavg
    < max_load AND 5-min loadavg < 2*max_load AND no pytest / foreign
    Spark process alive. Round-10 history that shaped this: the 1-min
    check alone let a run start 90s after a 42-min pytest suite (load1
    2.1 but load5 10.3) and inflate the tracked total 1.37x; then the
    r10 FINAL line started at load1 3.74 (under the old max_load=4
    default) after a 50s wait and disagreed 1.14x with an
    identical-code quiet run — more than the 1.3 regression gate can
    absorb. Hence the strict default (1.5) and the fail-loud contract:
    returns (seconds_waited, quiet_ok); callers must NOT record a
    tracked line when quiet_ok is False (VERDICT r10 task 2)."""
    waited = 0.0
    while True:
        l1, l5, _ = os.getloadavg()
        if l1 < max_load and l5 < 2 * max_load and not _foreign_work_pids():
            return waited, True
        if waited >= max_wait_s:
            return waited, False
        time.sleep(10)
        waited += 10


def main() -> None:
    max_load = float(os.environ.get("SPARK_BENCH_MAX_LOAD", "1.5"))
    # default wait sized for the 5-min loadavg to decay below 2*max_load
    # after a long correctness/test run (600s was not always enough)
    max_wait = float(os.environ.get("SPARK_BENCH_LOAD_WAIT", "1200"))
    waited_s, quiet_ok = _wait_for_quiet(max_load, max_wait)
    if not quiet_ok and os.environ.get("SPARK_BENCH_FORCE") != "1":
        # fail LOUD rather than record a noise-corrupted number: identical
        # code measured 89.0s vs 101.1s in r10 purely from ambient load.
        # SPARK_BENCH_FORCE=1 overrides (the line is then stamped
        # quiet_gate=forced and must not be compared round-over-round).
        l1, l5, l15 = os.getloadavg()
        print(json.dumps({
            "metric": "wall_seconds", "value": None, "unit": "sec",
            "error": (
                f"load gate expired after {waited_s:.0f}s: loadavg "
                f"{l1:.2f}/{l5:.2f}/{l15:.2f} (need <{max_load}/<{2*max_load}) "
                f"or foreign pytest/Spark pids {_foreign_work_pids()} alive; "
                "rerun when quiet or set SPARK_BENCH_FORCE=1"
            ),
        }))
        raise SystemExit(2)
    load_before = os.getloadavg()
    spark = get_spark(app_name="kdc-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM + parquet footer caches + codegen
    load_tables(spark, SF_DIR, ("events",))["events"].count()

    # min over SPARK_BENCH_RUNS passes: run 1 pays one-time JIT/codegen
    # compilation per query (±2s noise locally, irrelevant at cluster
    # scale); the min is the steady-state cost of the physical plan.
    # 5 passes: the very first Spark job after machine boot was observed
    # paying a one-off multi-second penalty (cold page cache + JIT storm),
    # and round-4→5 A/B runs on a QUIET machine still showed ±20-40%
    # swings on sub-second queries under min-of-3 — min-of-5 tightens the
    # per-query minima enough for round-over-round deltas to be signal
    runs = int(os.environ.get("SPARK_BENCH_RUNS", "5"))
    # SPARK_BENCH_SUBSET=N (test hook): first N queries only. The bench
    # CONTRACT (one JSON line, per-query seconds) is provable on a subset;
    # subset lines are excluded from the regression-gate baseline by the
    # query-count comparability check in _prev_tracked_total.
    subset = int(os.environ.get("SPARK_BENCH_SUBSET", "0"))
    bench_queries = BENCH_QUERIES[:subset] if subset > 0 else BENCH_QUERIES
    timings: dict[str, float] = {}
    for _ in range(max(1, runs)):
        for name in bench_queries:
            q = QUERIES[name]
            t0 = time.time()
            df = q.builder(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
            # several builders persist() shared subtrees they cannot
            # unpersist (lazy operators have no post-materialization
            # hook); each builder call creates FRESH DataFrames, so the
            # previous run's cache is an orphan that is never reused —
            # drop it here (outside the timed region) so a 5x79-query
            # suite doesn't accumulate hundreds of dead InMemoryRelations
            # in executor storage memory (the advisor's round-9 finding,
            # generalized)
            spark.catalog.clearCache()

    # scaling-curvature spot-bench (VERDICT r4 item 5): the heaviest
    # families re-timed at sf1 (10× documents/embeddings, generated
    # deterministically on first use); ratio vs this run's sf0.1 numbers.
    # Gated off when benching a non-default SF or via SPARK_BENCH_SF1=0.
    sf1_spot: dict[str, dict] = {}
    if os.environ.get("SPARK_BENCH_SF1", "1") == "1" and SF_DIR.rstrip("/").endswith("sf0.1"):
        try:
            from scripts.gen_scale_fixtures import (
                ensure_sf1,
                ensure_sf1_relational,
            )

            sf1_dir = ensure_sf1(SF_DIR)
            # the spot list reads orders (rfm_segments_sketch) and the web
            # fixture tables, not just documents/embeddings/events — on a
            # fresh machine the sf1 directory must be extended with the
            # 10x relational tables too, or the whole spot block dies with
            # KeyError('orders') and every spot/floor/decade measurement
            # is lost (observed once in r12; both ensure_* are idempotent)
            ensure_sf1_relational(SF_DIR)
            for name in SF1_SPOT_QUERIES:
                best = None
                try:
                    for _ in range(2):
                        t0 = time.time()
                        QUERIES[name].builder(spark, sf1_dir).write.format(
                            "noop"
                        ).mode("overwrite").save()
                        dt = time.time() - t0
                        best = dt if best is None else min(best, dt)
                        spark.catalog.clearCache()  # see main loop
                except Exception as e:  # isolate: one broken spot must not
                    # erase the other spots' measurements
                    sf1_spot[name] = {"error": f"{type(e).__name__}: {e}"}
                    # the failed builder may have persisted tables before
                    # raising; clear them so they can't skew the NEXT
                    # spot's timing (they would count as warm cache there)
                    spark.catalog.clearCache()
                    continue
                ratio = round(best / timings[name], 2) if timings.get(name) else None
                entry = {
                    "sf0.1_s": timings.get(name),
                    "sf1_s": round(best, 3),
                    "ratio": ratio,
                    "verdict": (
                        "linear-ish" if ratio is not None and ratio <= SF1_LINEAR_BAND
                        else "SUPERLINEAR: investigate"
                    ),
                }
                if name in SF1_CAUSES:
                    entry["cause"] = SF1_CAUSES[name]
                sf1_spot[name] = entry
            # VERDICT r11 task 4: the streaming fixed-floor DECOMPOSITION.
            # Both streaming spots drain the same 3 micro-batches at both
            # scales; modelling t = floor + c*rows, the two measured
            # points give the intercept floor = (10*t_sf0.1 - t_sf1)/9.
            # A real fixed floor shows up as floor_share dropping from
            # sf0.1 to sf1 (the compute term grew ~10x, the job floor
            # didn't); a floor that GROWS with data would drive the
            # intercept toward 0 or negative and flag the claim false.
            for name in STREAMING_FLOOR_SPOTS:
                entry = sf1_spot.get(name)
                if entry and entry.get("sf0.1_s") and entry.get("sf1_s"):
                    t01, t1 = entry["sf0.1_s"], entry["sf1_s"]
                    floor = max(0.0, (10 * t01 - t1) / 9)
                    entry["floor_est_s"] = round(floor, 3)
                    entry["floor_share_sf0.1"] = round(floor / t01, 3)
                    entry["floor_share_sf1"] = round(floor / t1, 3)
            # VERDICT r7 task 6: record the params-held-fixed sf1 ratio
            # alongside the occupancy-rule stepped one, so data growth and
            # param growth are separately visible
            knn = sf1_spot.get("knn_label_propagation_bucketed")
            if knn and knn.get("sf0.1_s"):
                best = None
                for _ in range(2):
                    t0 = time.time()
                    _knn_bucketed_params_fixed(spark, sf1_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                    spark.catalog.clearCache()  # see main loop
                knn["sf1_params_fixed_s"] = round(best, 3)
                knn["ratio_params_fixed"] = round(best / knn["sf0.1_s"], 2)
                knn["ratio_params_stepped"] = knn["ratio"]
            # second decade (VERDICT r10 task 4): sf1 -> sf10 for the 3
            # steepest sf1 ratios; ratio_vs_sf1 reads against the sf1
            # spot numbers this same run just recorded
            if os.environ.get("SPARK_BENCH_SF10", "1") == "1":
                from scripts.gen_scale_fixtures import ensure_sf10_spots

                sf10_dir = ensure_sf10_spots(sf1_dir)
                for name in SF10_SPOT_QUERIES:
                    best = None
                    for _ in range(2):
                        t0 = time.time()
                        QUERIES[name].builder(spark, sf10_dir).write.format(
                            "noop"
                        ).mode("overwrite").save()
                        dt = time.time() - t0
                        best = dt if best is None else min(best, dt)
                        spark.catalog.clearCache()  # see main loop
                    base = sf1_spot.get(name, {}).get("sf1_s")
                    ratio = round(best / base, 2) if base else None
                    sf1_spot[name]["sf10_s"] = round(best, 3)
                    sf1_spot[name]["ratio_sf1_to_sf10"] = ratio
                    sf1_spot[name]["sf10_verdict"] = (
                        "linear-ish"
                        if ratio is not None and ratio <= SF1_LINEAR_BAND
                        else "SUPERLINEAR: investigate"
                    )
                    sf1_spot[name]["sf10_cause"] = SF10_CAUSES[name]
        except Exception as e:  # spot-bench must never sink the main metric;
            # keep whatever spots already measured (r12: a fixture
            # KeyError here used to erase the entire spot map)
            # reserved "__error__" key keeps sf1_spot's value shape uniform
            # (every value is a dict): iterating sf1_spot.items() must not
            # trip over a bare string (ADVICE r12)
            sf1_spot["__error__"] = {"error": f"{type(e).__name__}: {e}"}

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "total_bench_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs": max(1, runs),
        # ambient-load stamps (1/5/15-min loadavg before and after):
        # cross-round timing drift is only adjudicable when both
        # rounds ran on a comparably quiet machine (VERDICT r3 §perf);
        # the quiet-wait gate (r4 item 8) blocks until loadavg <
        # SPARK_BENCH_MAX_LOAD or SPARK_BENCH_LOAD_WAIT runs out
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "quiet_wait_s": waited_s,
        # "passed" = the strict gate held (load + no foreign pytest/Spark
        # pids); "forced" = SPARK_BENCH_FORCE=1 overrode an expired gate —
        # such a line must not be compared round-over-round
        "quiet_gate": "passed" if quiet_ok else "forced",
        # the cores the run had: a line that never says how many cores it
        # ran on cannot be checked against SPARK_GRAFT_CPUS (VERDICT r13 #3)
        "cpus": {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "default_parallelism": spark.sparkContext.defaultParallelism,
        },
        "sf1_spot": sf1_spot,
        "notes": {
            k: v
            for k, v in BENCH_NOTES.items()
            if k in timings or k.startswith("__")
        },
    }
    # full sf1 sweep support (VERDICT r9 task 2): when benching the sf1
    # fixture directory, embed per-query ratios vs the last tracked FULL
    # sf0.1 line so the tracked sf1 line is self-contained — the sweep
    # exists to catch superlinear growth OUTSIDE the hand-picked spot
    # list, so the ratio table is the deliverable, not the total.
    if SF_DIR.rstrip("/").endswith("sf1"):
        hist = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        )
        base = _prev_tracked_line(hist, sf=0.1)
        if base:
            ratios = {
                n: round(t / base["queries"][n], 2)
                for n, t in timings.items()
                if base["queries"].get(n)
            }
            result["sf"] = 1.0
            result["sf01_base_ts"] = base.get("ts")
            result["sf01_ratio"] = dict(
                sorted(ratios.items(), key=lambda kv: -kv[1])
            )
            result["sf01_ratio_over_band"] = {
                n: r for n, r in ratios.items() if r > SF1_LINEAR_BAND
            }
    # total-time regression gate (VERDICT r7 task 7): compare against the
    # last tracked full sf0.1 line; growth past 1.3x needs an explicit
    # cause (SPARK_BENCH_GROWTH_CAUSE), otherwise the gate records ok=false
    # for the next round's reviewer (bench still completes — a red gate is
    # a finding to adjudicate, not a reason to lose the measurement).
    history_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    if result["sf"] == 0.1 and runs >= 5 and subset == 0:
        prev_line = _prev_tracked_line(history_path, sf=0.1)
        if prev_line:
            # intersection-based comparison (round 12): coverage eras
            # differ in query count, so the gate reads the sum over the
            # COMMON queries of both lines — a coverage widening can
            # neither trip the gate nor hide a regression in the queries
            # both lines time. Both common-subset sums are recorded so
            # the ratio is auditable from the history alone.
            prev_q = prev_line.get("queries", {})
            common = [n for n in timings if n in prev_q]
            cur_common = round(sum(timings[n] for n in common), 3)
            prev_common = round(sum(prev_q[n] for n in common), 3)
            ratio = round(cur_common / prev_common, 3) if prev_common else None
            cause = os.environ.get("SPARK_BENCH_GROWTH_CAUSE")
            gate = {
                "prev_total_s": float(prev_line["value"]),
                "n_common": len(common),
                "common_cur_s": cur_common,
                "common_prev_s": prev_common,
                "ratio_vs_prev": ratio,
                "threshold": REGRESSION_GATE_RATIO,
                "ok": (
                    ratio is not None and ratio <= REGRESSION_GATE_RATIO
                ) or bool(cause),
            }
            if cause:
                gate["cause"] = cause
            result["regression_gate"] = gate
            if not gate["ok"]:
                print(
                    f"REGRESSION GATE: common-subset total {cur_common}s is "
                    f"{ratio}x the last tracked sf0.1 common-subset total "
                    f"{prev_common}s over {len(common)} shared queries "
                    f"(> {REGRESSION_GATE_RATIO}x) with no "
                    "SPARK_BENCH_GROWTH_CAUSE annotation",
                    file=sys.stderr,
                )
    print(json.dumps(result))
    # the driver's BENCH_r{N}.json keeps only a 2,000-char stdout TAIL,
    # which truncates total_bench_seconds and most per-query timings
    # (VERDICT r6 item 1) — persist the FULL result to a tracked history
    # file so round-over-round regressions stay provable. Append-per-run:
    # each line is one complete result object, newest last. A forced line
    # is never compared round-over-round, so it is not recorded.
    try:
        if result["quiet_gate"] != "forced":
            with open(
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_LOCAL.json"),
                "a",
            ) as fh:
                fh.write(json.dumps({"ts": round(time.time(), 1), **result}) + "\n")
    except OSError:  # history must never sink the metric line
        pass
    # the driver records only the LAST 2,000 chars of stdout, and a full
    # 75-query result line far exceeds that — its head, including
    # total_bench_seconds, gets truncated away and the driver's artifact
    # parse fails (BENCH_r08 recorded "parsed": null). When the full line
    # overflows the tail window, ALSO print a compact self-contained
    # summary as the LAST line: same contract shape, top-5 slowest queries
    # only, guaranteed to fit. Short lines (subset/tiny-sf runs) stay
    # single-line, so the one-JSON-line contract test still sees the full
    # per-query map last.
    if len(json.dumps(result)) >= TAIL_WINDOW_CHARS:
        line = json.dumps(_compact_summary(result))
        assert len(line) < TAIL_WINDOW_CHARS, (
            f"compact summary must fit the tail window: {len(line)}"
        )
        print(line)
    spark.stop()


if __name__ == "__main__":
    main()
