"""Benchmark harness: every registered row at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line of totals (``value`` = summed per-row seconds,
``n_queries``, the ``common_r2_sec`` and ``proof_tier_sec`` subtotals, the
streaming capacity knee and the scale-trend extremes). Per-row detail goes
to ``BENCH_DETAIL_c<cpus>.json`` and ``BENCH_DETAIL.json`` next to this
file, so a run rewrites those files in the checkout it runs from.

The bench is a loop over tables:

* ``__spark_entry__.queries()`` — every registered row, built fresh and
  driven to completion with a count-style action (the external
  correctness gate does the value checking; here we measure end-to-end
  plan execution including scan/shuffle/codegen);
* ``TREND`` — rows also timed at 1x and on a 10x replica dir;
* ``POINTS`` — rows re-timed on 100x and Zipf-skewed replica dirs;
* ``RECEIPTS`` — extra measurements stored inside one trend row.

Every sample goes through ``_timed``; replica dirs come from
``_replica_dir`` (key-shifted copies, ``REPLICA_STRIDES``) or the two Zipf
builders, cached under ``.scale_trend/``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the 47 rows of the BENCH_r02.json baseline, frozen so the
# common_r2_sec subtotal stays comparable across benchmark runs
R2_COMMON_SET = frozenset(
    {
        "prices_standin",
        "dq_checks",
        "cumulate_rolling",
        "q1_pricing_summary",
        "q3_top_orders",
        "q5_nation_revenue",
        "topk_parts_per_brand",
        "customer_order_activity",
        "events_hourly",
        "events_sessionize",
        "order_priority_stats",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "embedding_near_dup",
        "similarity_cosine_topk",
        "similarity_rp_lsh_topk",
        "text_language_id",
        "text_token_stats",
        "text_quality_score",
        "text_fingerprints",
        "multimodal_byte_stats",
        "multimodal_frame_sample",
        "multimodal_decode_features",
        "multimodal_resize",
        "cumulate_day",
        "pipeline_daily_run",
        "streaming_hourly_tumbling",
        "streaming_sessionize",
        "streaming_rolling_stateful",
        "streaming_event_dedup",
        "streaming_exact_dedup",
        "similarity_ivf_topk",
        "dedup_components",
        "dedup_keep_list",
        "events_type_totals_salted",
        "text_pack_shards",
        "multimodal_audio_chunks",
        "text_top_terms",
        "curation_contamination",
        "curation_stratified_sample",
        "curation_split",
        "curation_pii_scrub",
        "curation_corpus_verdict",
        "text_corpus_stats",
        "embedding_kmeans",
    }
)

# batch/stream diff-proofs, stream drains into snapshot commits and
# table-lifecycle demos: correctness artifacts whose cost is table
# lifecycle, not operator throughput. Benched once (no steady-state pass).
RUN_ONCE = frozenset(
    {
        "pipeline_micro_batch_parity",
        "events_micro_batch_parity",
        "events_ohlc_incremental",
        "streaming_merge_apply",
        "pipeline_schema_evolution",
        "prices_snapshot_time_travel",
        "events_snapshot_sink_parity",
        "prices_snapshot_incremental",
        "prices_snapshot_wap",
        "events_decay_incremental",
        "events_cusum_incremental",
        "prices_compaction",
        "prices_snapshot_rollback",
        "prices_partition_evolution",
        "streaming_hll_incremental",
        "streaming_cms_incremental",
        "streaming_kmv_incremental",
    }
)

# the proof tier's subtotal is reported apart from the headline so the
# operator-throughput trend isn't read through proof-harness cost; three
# more lifecycle demos count in the tier but keep their repeat passes
PROOF_TIER = RUN_ONCE | {
    "prices_mor_deletes",
    "prices_snapshot_metadata",
    "prices_pruned_scan",
}

# Rows whose timing is dominated by persist/block-store scheduling rather
# than plan execution: every sample of them runs on a cleared cache and a
# GC'd heap (see _time_row), and they always get a third pass.
_STORAGE_SENSITIVE = {"dedup_minhash_lsh"}

# ---------------------------------------------------------------------------
# scale trend: each row is timed at 1x and on a deterministic 10x replica
# dir, and sec-per-input-row at both sizes goes to BENCH_DETAIL. Only
# single-fact-table plans qualify: a 10x copy of their one fact table
# scales their input 10x without breaking join selectivity against the
# unscaled dimensions. Exempt by design: prices_* rows (pipeline-generated
# bars, state bounded by time, not by data volume), dimension-driven rows
# such as parts_skyline (part is never replicated), and dedup_prefix_filter
# (exact recall on 10-member duplicate groups makes its output, and so its
# time, grow ~1000x; dedup_edit_distance's row covers that geometry).
#
# Each value is spread into the row's BENCH_DETAIL entry: "fact_table"
# drives its input size, "note" is a reading guide printed verbatim, and
# "superseded_by" marks a direct plan kept for the side-by-side read after
# a composed successor replaced it in production, so the summary's
# scale_trend_production_worst skips it.
# ---------------------------------------------------------------------------
TREND = {
    "q1_pricing_summary": {"fact_table": "lineitem"},
    "events_hourly_corr": {"fact_table": "events"},
    "events_sessionize": {"fact_table": "events"},
    "events_transitions": {"fact_table": "events"},
    "events_heavy_hitters": {"fact_table": "events"},
    "events_ewma": {"fact_table": "events"},
    "text_bm25_search": {"fact_table": "documents"},
    "text_lm_score": {"fact_table": "documents"},
    "dedup_exact": {"fact_table": "documents"},
    "dedup_minhash_lsh": {"fact_table": "documents", "note": (
        "replicas are exact duplicates, so CANDIDATE PAIR output grows "
        "~C(10,2)x per duplicate group while input grows 10x — read "
        "time against out_ratio, not input_ratio"
    )},
    "similarity_cosine_topk": {"fact_table": "embeddings", "note": (
        "brute-force baseline: by construction linear in corpus at fixed "
        "query count (10 dots/vector); the number to beat for ANN rows"
    )},
    "similarity_ivf_topk": {"fact_table": "embeddings", "note": (
        "linear term is the ASSIGNMENT pass (nlist=16 dots/vector), which "
        "at n_queries=10 exceeds brute-force's 10 query dots/vector; IVF "
        "amortizes once queries >> nlist — per-query candidate work is "
        "nprobe/nlist = 1/4 of the corpus vs brute-force's full scan. "
        "DEMONSTRATED at the 'ivf_amortization' point in this file: same "
        "10x corpus, n_queries=256, IVF's absolute sec beats brute-force"
    )},
    "text_tfidf_keywords": {"fact_table": "documents"},
    "events_pattern_match": {"fact_table": "events"},
    "events_decay_topk": {"fact_table": "events"},
    "events_attribution": {"fact_table": "events"},
    "events_holt_forecast": {"fact_table": "events"},
    "orders_abc_analysis": {"fact_table": "lineitem"},
    "text_winnowing": {"fact_table": "documents"},
    "events_cusum": {"fact_table": "events"},
    "parts_jaccard_similarity": {"fact_table": "lineitem", "note": (
        "pair fan-out is C(basket,2) per order — bounded by basket "
        "size (<= C(7,2)), so candidate pairs grow LINEARLY with "
        "orders, never quadratically. Replica orders reuse the SAME "
        "part dimension, so per-pair co-support grows 10x while the "
        "distinct-pair key space stays flat: the pair aggregate "
        "absorbs the 10x map-side (partial agg), out stays top-20"
    )},
    "text_source_drift": {"fact_table": "documents", "note": (
        "profile is a map-combinable groupBy to |sources| x 60 bit "
        "rows; the pairwise drift join is over the PROFILE (dimension-"
        "scale), so 10x docs only widen the map-side counting pass"
    )},
    "embedding_power_iteration": {"fact_table": "embeddings", "note": (
        "each iteration is one map-only projection + one 64-row-per-"
        "partition reduce; driver state is O(dim). Int64 overflow "
        "bound |S| <= rows*dim*PSCALE^2*VSCALE holds to ~1.4e7 rows "
        "per reduce (documented in the operator)"
    )},
    "events_growth_accounting": {"fact_table": "events", "note": (
        "replica users are disjoint populations, so every weekly "
        "class count grows ~10x while the week spine is calendar-"
        "bounded; the lag window partitions by user (state = one "
        "prior week per user)"
    )},
    "orders_open_backlog": {"fact_table": "orders", "note": (
        "interval-stabbing rewrite: 10x orders emit 10x difference-"
        "array events, but the global running-sum window still runs "
        "over ONE row per DATE (calendar-bounded), so the only stage "
        "that grows is the linear open/close aggregation"
    )},
    "customer_purchase_cadence": {"fact_table": "orders", "note": (
        "replica customers are disjoint, so groups grow 10x while "
        "per-group state stays orders-per-customer; out_ratio tracks "
        "the 10x customer dimension by construction"
    )},
    "events_hourofweek_seasonality": {"fact_table": "events", "note": (
        "one map-combinable groupBy collapses the fact table to "
        "<= |types| x 168 rows; out_ratio 1.0 by construction"
    )},
    "events_mad_anomaly": {"fact_table": "events", "note": (
        "replica events land in the SAME hours, so hourly counts, the "
        "median, and the MAD all scale by exactly 10 — the flag rule "
        "abs_dev > 3*mad is scale-equivariant, so out_ratio 1.0 is "
        "itself evidence; only the first aggregate widens at 10x"
    )},
    "events_burst_episodes": {"fact_table": "events", "note": (
        "same shape: the islands logic runs on the calendar-bounded "
        "hourly table; replicas scale counts and the mean together, so "
        "the qualifying set (n*h > 2t) is IDENTICAL at 10x — out_ratio "
        "1.0 is itself evidence the test is scale-invariant"
    )},
    "orders_ship_sla": {"fact_table": "orders", "note": (
        "the orderkey join grows 10x both sides (co-partitioned); the "
        "histogram and every percentile stage are bounded by "
        "|priorities| x |lag domain| — out stays 5 rows"
    )},
    "dq_referential_integrity": {"fact_table": "lineitem", "note": (
        "six independent anti-join/groupBy scans, each linear; output "
        "is always 6 rows. customer replicates with orders' 10^7 "
        "custkey stride (r11 advice), so every replica repeats the "
        "base data's defect profile 10x — anti-join selectivity is "
        "genuinely scale-invariant, not orphan-dominated"
    )},
    "dedup_winnowing_pairs": {"fact_table": "documents", "note": (
        "replicas are EXACT duplicates, so every fingerprint's posting "
        "list grows 10x and candidate pairs grow ~C(10,2)x per base "
        "near-dup group — the minhash_lsh out_ratio caveat applies, "
        "but the surfaced top-k stays 50 rows and hot fingerprints "
        "hit the bucket cap instead of exploding the join; "
        "cap_sweep_sec_10x below times caps 50/200/800 on the SAME "
        "10x corpus — runtime tracks the cap at fixed corpus, which "
        "is the cap-bounds-the-join claim measured. r13: the sweep "
        "also reports what the cap COSTS — near-dup (resemblance "
        ">= 0.5) recall per cap on both corpora, with the metric's "
        "construction documented in _winnow_cap_sweep"
    )},
    "events_hll_distinct": {"fact_table": "events", "note": (
        "replica users are DISJOINT, so true distincts grow 10x while "
        "the register table stays <= |types| x 256 rows — the sketch's "
        "whole point; the exact COUNT(DISTINCT) grader is the only "
        "stage that scales with users"
    )},
    "events_hll_setops": {"fact_table": "events", "note": (
        "all pair algebra runs on |types|^2 x 256 register rows at any "
        "SF; the exact-union grader's (pair, user) distinct is the one "
        "user-scale stage, present only to grade the sketch"
    )},
    "events_hll_reagg": {"fact_table": "events", "note": (
        "the merge-vs-onepass register proof: BOTH register builds are "
        "map-combinable groupBys, and the daily-register table the "
        "merge runs on stays <= |types| x days x 256 rows while events "
        "grow 10x (replica events land on the SAME days) — out_ratio "
        "1.0 and a flat register table are the mergeability claim "
        "itself"
    )},
    "similarity_cluster_balance": {"fact_table": "embeddings", "note": (
        "exact k-means assignment is the one corpus-scale stage "
        "(replica vectors are exact duplicates, so the centroids are "
        "identical); the md5-rank quota is a WindowGroupLimit that "
        "caps output at k_clusters x quota BEFORE the exchange, so "
        "out stays flat (out_ratio -> 1.0 once every cluster "
        "saturates its quota) while input grows 10x"
    )},
    "events_kmv_distinct": {"fact_table": "events", "note": (
        "the bottom-k sketch shuffles O(types x k) rows at any SF "
        "(WindowGroupLimit partial top-k before the exchange); the "
        "exact COUNT(DISTINCT) grader is the one user-scale stage — "
        "replica users are disjoint, so true distincts grow 10x while "
        "the sample stays k rows per type"
    )},
    "events_cms_heavy_hitters": {"fact_table": "events", "note": (
        "the counter table is <= 4 x 1024 rows at any SF "
        "(map-combinable build; the explode widens map-side rows by "
        "depth, never the shuffle); the exact top-20 grader is the one "
        "per-item stage. Replica users are disjoint, so per-item "
        "counts stay FLAT while the item domain grows 10x — out stays "
        "20 rows"
    )},
    "events_kmv_overlap": {"fact_table": "events", "note": (
        "the pair algebra runs on O(|types|^2 x k) SKETCH rows at any "
        "SF (each type's sample is bottom-k, WindowGroupLimit before "
        "the exchange), so the corpus is touched exactly once to build "
        "the samples; the exact-intersection grader's user equi-join "
        "is the one user-scale stage — replica users are disjoint, so "
        "true overlaps stay FLAT (same base users intersect) while "
        "unions grow 10x"
    )},
    "events_quantile_sketch": {"fact_table": "events", "note": (
        "the re-planned (r12) BNLJ-free shape: one map-combinable "
        "groupBy collapses events to a <= |types| x 128 histogram "
        "(localCheckpointed once for its 3 consumers), the (lo,hi) "
        "scalar attaches once, q_pct is an exploded literal — every "
        "post-histogram stage is dimension-scale, so only the first "
        "aggregate widens at 10x; out stays |types| x |q_pcts| rows"
    )},
    "streaming_hll_incremental": {"fact_table": "events", "note": (
        "per-micro-batch partial table is <= |types| x 256 register "
        "rows REGARDLESS of batch size (the map-combinable groupBy "
        "runs inside foreachBatch), so 10x events per batch widen "
        "only the map side; batch count is fixed by the 4-file "
        "source layout at both scales, state read back at render is "
        "batches x |types| x 256 rows, and the register-equality "
        "proof joins two dimension-scale tables. Timed via the trend "
        "protocol on a fresh checkpoint per pass (proof tier: "
        "includes stream startup/drain fixed cost both scales)"
    )},
    "streaming_cms_incremental": {"fact_table": "events", "note": (
        "same sink shape as the HLL row with a <= 4 x 1024 pure-int "
        "counter partial per batch (map-combinable; the explode "
        "widens map-side rows by depth, never the shuffle); the "
        "SUM-merge render and the counter-equality proof both run on "
        "dimension-scale tables, so only the in-batch counting pass "
        "widens at 10x (proof tier: includes stream startup/drain "
        "fixed cost both scales)"
    )},
    "streaming_kmv_incremental": {"fact_table": "events", "note": (
        "per-batch partial is <= |types| x 256 sample rows via "
        "WindowGroupLimit INSIDE foreachBatch (partial top-k before "
        "the exchange), so 10x events per batch widen only the "
        "per-batch hash/distinct pass; render distinct-unions "
        "batches x |types| x 256 stored rows and the sample-equality "
        "proof's one user-scale stage is the one-pass bottom_k "
        "grader (proof tier: includes stream startup/drain fixed "
        "cost both scales)"
    )},
    "dq_benford": {"fact_table": "lineitem", "note": (
        "one map-combinable groupBy collapses any lineitem volume to "
        "<= 9 digit rows; the window/chi-square math runs on those 9 "
        "rows — out_ratio 1.0 by construction, and because replicas "
        "repeat the base price distribution the per-digit frequencies "
        "are IDENTICAL at 10x (only counts scale)"
    )},
    "events_stl_decompose": {"fact_table": "events", "note": (
        "the daily groupBy collapses events to |dates| rows (replicas "
        "land in the SAME dates, so the series length is constant and "
        "y scales by exactly 10); trend/seasonal/residual all run on "
        "that calendar-bounded series — out_ratio 1.0, and the "
        "unpartitioned window is over days, never events"
    )},
    "curation_weighted_sample": {"fact_table": "documents", "note": (
        "stateless keying projection + TakeOrderedAndProject: each "
        "task keeps k=25 rows, so the only 10x cost is the linear "
        "scan/pow pass; out stays 25 rows. Replica doc_ids hash to "
        "fresh u draws, so replicas compete fairly in the sample"
    )},
    "dedup_edit_distance": {"fact_table": "documents", "note": (
        "replicas are EXACT duplicates, so every 16-char-prefix block "
        "grows 10x and within-block pairs grow ~C(10,2)x per base "
        "group — the minhash_lsh out_ratio caveat applies; the "
        "per-block cap (64, deterministic doc_id order) bounds the "
        "DP join at CAP^2 per block no matter how duplicate-saturated "
        "the corpus, so time tracks the capped pair count, not the "
        "quadratic uncapped one"
    ), "superseded_by": "dedup_edit_distance_composed"},
    "similarity_rrf_hybrid": {"fact_table": "documents", "note": (
        "both rankers are linear passes at fixed query count (BM25: "
        "postings-only explode + broadcast df/scalars; cosine: "
        "broadcast 1-row query + TakeOrdered top-50); the fusion "
        "joins two <=50-row lists, so it is scale-INVARIANT by "
        "construction — time_ratio reads the two underlying scans"
    )},
    "dq_profile": {"fact_table": "lineitem", "note": (
        "r13 re-plan: skinny (col, surface) explode + pure-COUNT hash "
        "aggregate (map-combinable) replaced the SortAggregate-over-"
        "wide-Expand multi-distinct plan — 24.3s -> 3.4s warm at "
        "sf0.1; output is always 11 rows — out_ratio 1.0 by "
        "construction, null counts and totals scale by exactly 10"
    )},
    "curation_score_calibration": {"fact_table": "documents", "note": (
        "scoring is lm_score's proven linear plan (replica docs keep "
        "the closed vocabulary, so the bigram LM tables stay "
        "vocab-bounded); everything after runs on the (source, score) "
        "histogram — dimension-scale windows, out stays |sources| rows. "
        "Replicas repeat the base score distribution, so both "
        "thresholds and the kept/total RATIOS are identical at 10x"
    )},
    "orders_ivm_join": {"fact_table": "lineitem", "note": (
        "the DRIVER ROW times the whole algebra including rebuilding "
        "the base view (the part a production system has already "
        "materialized), so time_ratio reads the full-join rebuild — "
        "linear is the expected trend. The INCREMENTAL claim is "
        "structural: each delta term joins a delta against the other "
        "side with the delta broadcast, and refresh cost at 100 TB is "
        "those three terms plus one pruned base probe, never base x "
        "base; hash equality vs the full-recompute oracle proves the "
        "fold is safe under any partial-agg order (int64 cents)"
    )},
    "curation_token_budget": {"fact_table": "documents", "note": (
        "per-doc scoring is quality_score's single-scan projection "
        "(linear); the waterfill itself runs on the |sources|-row "
        "aggregate — the single-partition window the plan shows is "
        "over ~20 rows, a driver-sized plan table. Replicas multiply "
        "every source's tokens and weight by 10, so r_s ordering, the "
        "saturation split, and epochs are IDENTICAL at 10x — "
        "allocations scale by exactly 10"
    )},
    "similarity_matryoshka_recall": {"fact_table": "embeddings", "note": (
        "|dims| x the brute-force pass at fixed query count — linear "
        "in corpus by construction (the same baseline class as "
        "similarity_cosine_topk); per-(query,dim) top-k is a "
        "WindowGroupLimit. The ablation's at-scale point is to pick "
        "the smallest dim whose recall holds, then serve IVF/PQ there"
    )},
    "embedding_outlier_lof": {"fact_table": "embeddings", "note": (
        "cost is the LSH-bucketed k-NN graph build — since r14 the "
        "duplicate-COLLAPSED plan (see similarity_knn_graph's row: "
        "rep-level band join, per-group fan-out, exactness-preserving)"
        " — so 10x exact-duplicate replicas no longer densify the "
        "buckets; the LOF algebra after it is three joins over the "
        "k-bounded edge set, |V| x k rows"
    )},
    "similarity_knn_graph": {"fact_table": "embeddings", "note": (
        "r14 duplicate-collapse plan (the r13 `weak`, closed): the "
        "band self-join runs on one representative per DISTINCT "
        "embedding value and fans edges back per group — candidate "
        "volume is quadratic in distinct values, LINEAR in duplicate "
        "multiplicity, so the 10x exact-replica corpus (10-member "
        "groups) leaves the rep join at BASE size and the expansion "
        "output-bound. EXACTNESS-preserving, not a cap: collapsed == "
        "direct pinned by tests/test_r14_collapse.py and the "
        "unchanged driver oracle. Deliberate 1x cost: the _dup_groups "
        "value-keyed exchange adds ~1.3s on a duplicate-FREE corpus "
        "(this row and embedding_near_dup read ~1.7x their r13 1x "
        "absolutes) — the price of flat scaling where the old plan "
        "was quadratic; the 100x deep point is the receipt"
    )},
    "dedup_prefix_filter_composed": {"fact_table": "documents", "note": (
        "exact-dedup first, PPJoin on distinct-set representatives, "
        "C(k,2) within-group pairs expanded arithmetically — output "
        "hash-IDENTICAL to the direct PPJoin (oracle IS the direct "
        "SQL; tests/test_r14_collapse.py pins it on the saturated "
        "corpus), so time_ratio here reads against the direct path's "
        "retired 80.1x (6.30s -> 504.8s, r13 BENCH_DETAIL): the join "
        "is distinct-set-bound and only the expansion tracks the "
        "978.9x pair output"
    )},
    "dedup_edit_distance_composed": {"fact_table": "documents", "note": (
        "read against dedup_edit_distance's row on the SAME corpus: "
        "the 10x replicas saturate every block, so the direct path "
        "runs CAP^2 Levenshtein DPs per block (the 18.14x capped-pair "
        "plateau) while the composed path runs the DP once per "
        "distinct (pfx, len) pair and derives within-group pairs "
        "arithmetically — output pairs still grow with duplicate "
        "multiplicity (exact recall means they must), so time is read "
        "against out_rows, not input"
    )},
    "text_classifier_train": {"fact_table": "documents", "note": (
        "gradient factored through the Gram matrix: XtX (<= B^2 rows, "
        "B = CLF_TRAIN_BUCKETS = 64) and Xty are computed ONCE by "
        "map-combinable aggregates over the doc-feature rows; all T "
        "iterations are driver arithmetic on that fixed-size state — "
        "integer-identical to the per-doc spec because int64 sums "
        "commute. Only the one-scan feature build and the final "
        "scoring pass grow with the corpus; time_ratio reads that "
        "scan, the training state is corpus-size-free"
    )},
    "text_bpe_encode": {"fact_table": "documents", "note": (
        "the trained word->tokens map is VOCABULARY-bounded (replicas "
        "repeat the same words, so the merge loop state is unchanged "
        "at 10x) and broadcasts into the doc-side explode; output is "
        "the encoded token stream itself — linear in corpus tokens by "
        "definition, so out_ratio tracks input_ratio and time follows "
        "output"
    )},
    "retrieval_rag_recall": {"fact_table": "documents", "note": (
        "end-to-end pipeline: chunk+embed (one scan), 2 training passes, "
        "1 scoring pass, and the panel x corpus brute-force GRADER — all "
        "linear in chunk volume at fixed panel/cells/codebooks. The "
        "grader exists to certify recall; a serving deployment runs it "
        "on a sampled panel exactly like this, so its linear cost is "
        "the honest at-scale shape, not overhead to optimize away"
    )},
    "text_classifier_holdout": {"fact_table": "documents"},
    "text_bpe_encode_artifact": {"fact_table": "documents"},
    "retrieval_index_artifact": {"fact_table": "documents"},
    "orders_ivm_delete": {"fact_table": "lineitem", "note": (
        "the retraction term joins ONLY the deleted orders against "
        "lineitem (10x both sides, co-partitioned orderkey join); the "
        "merge + zero-filter run on the |custkeys| aggregate — same "
        "delta-term shape as orders_ivm_join's trend row"
    )},
    "dq_fd_violations": {"fact_table": "lineitem", "note": (
        "one scan fanned out |FD|x map-side; the (fd, x, y) joint and "
        "per-x maxima are map-combinable, so 10x rows widen the "
        "counting passes while the output stays |FD| rows — the "
        "orderkey-keyed FDs keep the intermediates fact-shaped but "
        "never collected"
    )},
    "similarity_semdedup": {"fact_table": "embeddings", "note": (
        "kmeans assignment is train-small/score-big (codebook collected "
        "at O(k x dim), scoring one numpy matmul per Arrow batch); pair "
        "mining is the r14 duplicate-collapsed band join, so the 10x "
        "exact-replica corpus keeps the rep join at base size; verdict "
        "table is one |V|-row left join"
    )},
    "text_classifier_score": {"fact_table": "documents", "note": (
        "tokenize + hash-bucket + weight are one narrow codegen "
        "projection (the weight table is an EXPRESSION, nothing "
        "shuffled); 10x docs widen only the map-combinable per-doc "
        "sum — the quality_score linear class"
    )},
    "events_ab_cuped": {"fact_table": "events", "note": (
        "per-user x/y counts are ONE map-combinable aggregate (10x "
        "disjoint replica users -> 10x groups, flat state per key); "
        "everything after runs on the 2-row arm table — out stays 2 "
        "rows at any scale"
    )},
    "curation_ppl_buckets": {"fact_table": "documents", "note": (
        "lm_score's bigram-count joins stay token-shaped (closed "
        "vocabulary on replicas, the text_lm_score class); the tercile "
        "window is one exchange per source; out stays |docs| rows"
    )},
    "orders_ivm_outer": {"fact_table": "orders", "note": (
        "the correction term is delta-custkey-sized (distinct + "
        "anti-join), the insert term joins the delta against the "
        "customer dimension, and the base view is already "
        "materialized — out_rows track |orders| + orderless customers "
        "by construction"
    )},
    "events_holt_winters": {"fact_table": "events", "note": (
        "the (type, day) count aggregate absorbs 10x input map-side; "
        "the fold runs on a types-by-days table UNCHANGED at 10x "
        "(replica events land on the same days) — the events_cusum "
        "time-bounded class"
    )},
    "similarity_dup_groups": {"fact_table": "embeddings", "note": (
        "one exchange keyed by the embedding value: 10x exact replicas "
        "shuffle 10x rows but collapse to the SAME group table (gsize "
        "10x) — the histogram is |distinct sizes| rows"
    )},
    "events_survival_km": {"fact_table": "events", "note": (
        "two per-user aggregates absorb 10x input map-side (disjoint "
        "replica users -> 10x subjects); the survival fold runs on the "
        "step table, bounded by the OBSERVATION CALENDAR (<= horizon "
        "days rows) at any scale"
    )},
    "dq_mutual_information": {"fact_table": "lineitem", "note": (
        "one scan fans out 3x map-side (stack) and collapses to "
        "|pair| x |X| x |Y| joint rows; replicas repeat the base "
        "distribution so every joint count scales by exactly 10 and "
        "the entropies/MI are IDENTICAL at 10x — out_ratio 1.0 and "
        "value-identity are both evidence"
    )},
    "events_forecast_backtest": {"fact_table": "events", "note": (
        "one map-combinable groupBy collapses events to the "
        "|dates| x |types| grid (calendar-bounded); replica events "
        "land on the same days, so daily counts scale by 10 and both "
        "models' MAPE is scale-invariant — only the first aggregate "
        "widens at 10x"
    )},
    "events_changepoint": {"fact_table": "events", "note": (
        "same collapse-to-daily-grid shape: the candidate scan is one "
        "window pass over |dates| rows per type. Replica events scale "
        "every daily count by 10, so S and Q scale by 10 and 100, "
        "gain by exactly 100, and the ARGMAX SPLIT DAY is identical "
        "at 10x — out_ratio 1.0 plus split-day identity are the "
        "evidence"
    )},
}
SCALE_FACTOR = 10
DEEP_FACTOR = 100

# key columns shifted per replica: replica i adds i * stride, so replicas
# are disjoint populations with the base data's per-entity distribution
# (aggregate/session/window cardinality scales linearly). Tables that
# share a key share its stride, so replica i of orders joins replica i of
# lineitem (orderkey) and of customer (custkey), and the base data's
# defect profile (orphan keys) repeats per replica instead of every
# replica row becoming an orphan.
REPLICA_STRIDES = {
    "events": {"event_id": 10**9, "user_id": 10**7},
    "lineitem": {"l_orderkey": 10**9},
    "orders": {"o_orderkey": 10**9, "o_custkey": 10**7},
    "customer": {"c_custkey": 10**7},
    "documents": {"doc_id": 10**9},
    "embeddings": {"vec_id": 10**9},
}
SCALE_TABLES = tuple(REPLICA_STRIDES)
SCALE_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scale_trend")


def _timed(build, passes: int = 2) -> tuple[float, int]:
    """Min wall seconds over ``passes`` runs of ``build().count()`` (the
    DataFrame is built inside the timed window), and the last row count.

    Single-pass timings at bench scale are dominated by one-off noise —
    JIT/codegen of first-seen plan shapes, G1 pauses, cold page cache —
    so every measured point is a min over passes."""
    best = rows = None
    for _ in range(passes):
        t0 = time.time()
        rows = build().count()
        t = round(time.time() - t0, 3)
        best = t if best is None else min(best, t)
    return best, rows


def _cached_dir(sf_dir: str, name: str, recipe: str, tables, write) -> str:
    """Replica dir ``SCALE_ROOT/<sf base>-<name>``, built once per recipe.

    Reused as is when its ``_BUILT`` marker reads ``recipe`` (the build is
    a pure function of the inputs). Otherwise the dir is recreated with
    symlinks to every base table not in ``tables``, ``write(out_dir)``
    writes those, and the marker is written last."""
    base = os.path.basename(sf_dir.rstrip("/"))
    out_dir = os.path.join(SCALE_ROOT, f"{base}-{name}")
    marker = os.path.join(out_dir, "_BUILT")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == recipe:
                return out_dir
    if os.path.isdir(out_dir):
        # remove a stale layout wholesale so no write can ever go THROUGH
        # a leftover symlink into the read-only testdata tree
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    own = {f"{t}.parquet" for t in tables}
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        if os.path.basename(p) not in own:
            os.symlink(p, os.path.join(out_dir, os.path.basename(p)))
    write(out_dir)
    with open(marker, "w") as f:
        f.write(recipe)
    return out_dir


def _shifted(table: str, col: str, rep=None):
    """Key ``col`` of ``table`` shifted by ``rep`` (default: the replica
    column) times its REPLICA_STRIDES stride."""
    from pyspark.sql import functions as F

    rep = F.col("rep") if rep is None else rep
    return F.col(col) + rep * F.lit(REPLICA_STRIDES[table][col])


def _crossed(spark, sf_dir: str, table: str, factor: int):
    """A base table crossed with a ``rep`` column of 0..factor-1."""
    from pyspark.sql import functions as F

    reps = spark.range(factor).withColumnRenamed("id", "rep")
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    return df.crossJoin(F.broadcast(reps))


def _replicas(spark, sf_dir: str, table: str, factor: int):
    """``factor`` copies of a base table, keys shifted by REPLICA_STRIDES."""
    df = _crossed(spark, sf_dir, table, factor)
    for col in REPLICA_STRIDES[table]:
        df = df.withColumn(col, _shifted(table, col))
    return df.drop("rep")


def _replica_dir(spark, sf_dir: str, tables, factor: int) -> str:
    """Dir holding ``factor``-x key-shifted replicas of ``tables`` next to
    symlinks of every other base table."""
    recipe = json.dumps({t: REPLICA_STRIDES[t] for t in tables}) + f" x{factor}\n"

    def write(out_dir):
        for t in tables:
            _replicas(spark, sf_dir, t, factor).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"{t}.parquet")
            )

    return _cached_dir(sf_dir, f"{'-'.join(tables)}-x{factor}", recipe, tables, write)


def _events_100x(spark, sf_dir: str) -> str:
    return _replica_dir(spark, sf_dir, ("events",), DEEP_FACTOR)


def _num_rows(path: str) -> int:
    """Parquet row count of a base file or a written table dir (footers only)."""
    import pyarrow.parquet as pq

    files = [path]
    if os.path.isdir(path):
        files = glob.glob(os.path.join(path, "*.parquet"))
    return sum(pq.ParquetFile(p).metadata.num_rows for p in files)


def _scale_trend(spark, sf_dir: str, queries) -> dict:
    """Time the TREND rows at 1x and 10x input.

    The number to read per row is ``time_ratio`` against ``input_ratio``:
    raw sec-per-Mrow at these sizes is dominated by per-query fixed
    overhead (scheduling, codegen, plan setup) and reads as a misleading
    3-12x "speedup" at 10x. The fixed-overhead-free rate is
    ``marginal_sec_per_mrow`` — the slope (t_10x - t_1x) / (rows_10x -
    rows_1x), i.e. the cost of each ADDED million rows, which is the
    number that extrapolates to 100 TB. ``out_rows`` at both scales is
    recorded because dedup-style operators legitimately produce
    superlinear OUTPUT on duplicate-heavy corpora (10-member duplicate
    groups emit ~45x the pairs); their time must be read against output
    growth, not input growth.
    """
    big_dir = _replica_dir(spark, sf_dir, SCALE_TABLES, SCALE_FACTOR)
    trend = {}
    for name, spec in TREND.items():
        tbl = spec["fact_table"]
        t_small, n_small = _timed(lambda: queries[name](spark, sf_dir))
        t_big, n_big = _timed(lambda: queries[name](spark, big_dir))
        r_small = _num_rows(os.path.join(sf_dir, f"{tbl}.parquet"))
        r_big = _num_rows(os.path.join(big_dir, f"{tbl}.parquet"))
        trend[name] = {
            **spec,
            "input_ratio": round(r_big / r_small, 2),
            "time_ratio": round(t_big / t_small, 2) if t_small else None,
            "out_ratio": round(n_big / n_small, 2) if n_small else None,
            "marginal_sec_per_mrow": (
                round((t_big - t_small) / ((r_big - r_small) / 1e6), 3)
                if r_big > r_small
                else None
            ),
            "rows_1x": r_small,
            "rows_10x": r_big,
            "out_rows_1x": n_small,
            "out_rows_10x": n_big,
            "sec_1x": t_small,
            "sec_10x": t_big,
        }
    return trend


# ---------------------------------------------------------------------------
# Zipf-skewed replica dirs: the uniform replicas understate skew — every
# count level becomes a factor-way tie and no key ever grows — so these two
# builders hand a 1/k-weighted slice of the replica stream to ZIPF_HEADS
# synthetic ids (-1..-ZIPF_HEADS, disjoint from every real id). Replica rep
# of base row r draws v = (key(r) * factor + rep) mod 10007, a dense
# deterministic residue bound to the PRE-shift key, and lands on head k
# when v falls inside head k's band (width ~ ZIPF_W/k).
# ---------------------------------------------------------------------------
ZIPF_HEADS = 20
ZIPF_W = 500


def _zipf_head(v):
    """bigint head id -k for residue column ``v`` inside band k, else NULL."""
    from pyspark.sql import functions as F

    bounds = []
    acc = 0.0
    for k in range(1, ZIPF_HEADS + 1):
        acc += ZIPF_W / k
        bounds.append(int(round(acc)))
    head = F.lit(None).cast("bigint")
    for k in range(ZIPF_HEADS, 0, -1):
        lo = bounds[k - 2] if k >= 2 else 0
        head = F.when(
            (v >= F.lit(lo)) & (v < F.lit(bounds[k - 1])),
            F.lit(-k).cast("bigint"),
        ).otherwise(head)
    return head


def _zipf_residue(key: str, factor: int):
    from pyspark.sql import functions as F

    return (F.col(key) * F.lit(factor) + F.col("rep")) % F.lit(10007)


def _zipf_events_dir(spark, sf_dir: str, factor: int) -> str:
    """Zipf-skewed events replica dir.

    Every event is still replicated ``factor`` times (total = factor x
    base, same as the uniform dir), but the Zipf head claims a 1/k slice
    of the replicas; unclaimed replicas go to disjoint shifted tail users,
    the uniform dir's construction. Head k's count is ~ N * ZIPF_W /
    (10007 * k): at the 100x point head-1 holds ~5% of ALL events and even
    head-20 sits decades above both the per-user tail and the CMS 2N/w
    collision floor — heavy hitters that are SEPARATED, identifiable, and
    1/k-ordered, the shape a production event stream actually has. (The
    base per-user counts are so small that no per-user replica scheme
    could clear the collision floor — ~67 x 100 < 2N/1024 — hence
    synthetic head ids rather than boosted real users.)
    """
    from pyspark.sql import functions as F

    def write(out_dir):
        head = _zipf_head(F.col("v"))
        (
            _crossed(spark, sf_dir, "events", factor)
            .withColumn("v", _zipf_residue("event_id", factor))
            .withColumn("event_id", _shifted("events", "event_id"))
            .withColumn(
                "user_id",
                F.when(F.col("user_id").isNull(), F.lit(None).cast("bigint"))
                .when(head.isNotNull(), head)
                .otherwise(_shifted("events", "user_id", F.col("rep") + 1)),
            )
            .drop("rep", "v")
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "events.parquet"))
        )

    recipe = f"events-zipf-v3={factor} {json.dumps(REPLICA_STRIDES['events'])}\n"
    return _cached_dir(sf_dir, f"events-zipf-x{factor}", recipe, ("events",), write)


def _zipf_orders_dir(spark, sf_dir: str, factor: int) -> str:
    """Zipf-skewed orders/lineitem/customer replica dir.

    The uniform dir keeps replica customers disjoint, so no o_custkey
    group ever grows. Here the Zipf head claims a 1/k slice of replica
    ORDER OWNERSHIP while orderkeys keep the uniform stride — the
    orders-lineitem join stays uniform (lines-per-order is TPC-H-bounded)
    and ONLY the custkey aggregation skews, which is exactly the claim
    under test: the custkey rollups are map-combinable, so partial
    aggregation must absorb a ~5%-of-all-orders head customer. Customer
    follows orders' custkey stride and gains the head customers (clones
    of base custkeys 1..ZIPF_HEADS under the negated key), or every
    replica/head order would be a custkey orphan and the customer-driven
    rows would measure an anti-join instead of the skew claim.
    """
    from pyspark.sql import functions as F

    def write(out_dir):
        _replicas(spark, sf_dir, "lineitem", factor).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "lineitem.parquet"))
        head = _zipf_head(F.col("v"))
        (
            _crossed(spark, sf_dir, "orders", factor)
            .withColumn("v", _zipf_residue("o_orderkey", factor))
            .withColumn("o_orderkey", _shifted("orders", "o_orderkey"))
            .withColumn(
                "o_custkey",
                F.when(head.isNotNull(), head).otherwise(
                    _shifted("orders", "o_custkey")
                ),
            )
            .drop("rep", "v")
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "orders.parquet"))
        )
        cu = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        heads = cu.where(
            (F.col("c_custkey") >= 1) & (F.col("c_custkey") <= ZIPF_HEADS)
        ).withColumn("c_custkey", -F.col("c_custkey"))
        _replicas(spark, sf_dir, "customer", factor).unionByName(
            heads
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "customer.parquet"))

    tables = ("orders", "lineitem", "customer")
    strides = json.dumps({t: REPLICA_STRIDES[t] for t in tables})
    recipe = f"orders-zipf-v2-customer={factor} {strides}\n"
    return _cached_dir(sf_dir, f"orders-zipf-x{factor}", recipe, tables, write)


# ---------------------------------------------------------------------------
# receipts: measurements stored inside one trend row
# ---------------------------------------------------------------------------
IVF_AMORT_QUERIES = 256


def _ivf_amortization(spark, sf_dir: str) -> dict:
    """IVF amortizes its nlist-dot assignment pass only when queries >>
    nlist; at the trend's n_queries=10 it scales WORSE than brute force.
    Demonstration: brute-force cosine vs IVF on the SAME 10x corpus at
    n_queries=256 (>> nlist=16), where brute pays 256 query-dots per
    stored vector and IVF pays 16 assignment-dots plus the nprobe-bounded
    candidate join."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    big_dir = _replica_dir(spark, sf_dir, SCALE_TABLES, SCALE_FACTOR)
    brute_sec, _ = _timed(
        lambda: cosine_topk(spark, big_dir, n_queries=IVF_AMORT_QUERIES)
    )
    ivf_sec, _ = _timed(lambda: ivf_topk(spark, big_dir, n_queries=IVF_AMORT_QUERIES))
    return {
        "ivf_sec_10x": ivf_sec,
        "brute_sec_10x": brute_sec,
        "ivf_wins": ivf_sec < brute_sec,
    }


WINNOW_CAP_SWEEP = (50, 200, 800)


def _winnow_cap_sweep(spark, sf_dir: str) -> dict:
    """The claim: WINNOW_PAIR_CAP — not the corpus — bounds the
    posting-list self-join. Time the operator on the SAME 10x documents
    dir at caps 50 / 200 (production value) / 800: if the cap bounds the
    join, runtime grows with the cap at fixed corpus; a corpus-bound join
    would be flat. Next to what the cap buys in runtime, report what it
    COSTS in near-dup recall on both corpora."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.dedup import (
        winnow_candidate_pairs,
        winnowing_pairs,
    )
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import (
        load_table,
    )

    big_dir = _replica_dir(spark, sf_dir, SCALE_TABLES, SCALE_FACTOR)
    docs = load_table(spark, big_dir, "documents")
    out = {}
    for cap in WINNOW_CAP_SWEEP:
        out[f"cap_{cap}"], _ = _timed(lambda: winnowing_pairs(docs, cap=cap))
    # Reference set = the UNCAPPED pairs with fingerprint-set resemblance
    # >= 0.5 — the near-dup class the operator exists to surface (it ranks
    # by resemblance). The bare >= 2-shared-fps candidate floor is NOT a
    # usable truth set: 74% of ALL base-fixture doc pairs clear it
    # (boilerplate co-occurrence), and on the 10x corpus it counts 930M
    # pairs (~8 cpu-min to cross) whose survival says only that exact
    # duplicates saturate every bucket — recall over it reads 0.0057 at
    # the production cap while near-dup recall reads 0.99 (both measured;
    # the former is the boilerplate graph dying, which is the cap's JOB).
    # 10x recall runs over the deterministic 10% doc sample: the cap still
    # applies to FULL-corpus bucket sizes before sampling, so a sampled
    # pair's survival equals its survival in the full computation — an
    # unbiased estimate at ~1% of the join cost.
    base_docs = load_table(spark, sf_dir, "documents")
    for label, corpus, mod in (("base", base_docs, None), ("10x", docs, 10)):
        truth = winnow_candidate_pairs(
            corpus, cap=None, doc_sample_mod=mod, min_resemblance=0.5
        ).persist()
        n_truth = truth.count()
        for cap in WINNOW_CAP_SWEEP:
            n_hit = winnow_candidate_pairs(
                corpus, cap=cap, doc_sample_mod=mod
            ).join(truth, ["doc_a", "doc_b"], "inner").count()
            out[f"neardup_recall_{label}_cap_{cap}"] = (
                round(n_hit / n_truth, 4) if n_truth else None
            )
        out[f"neardup_true_pairs_{label}"] = n_truth
        truth.unpersist()
    out["recall_note"] = (
        "truth = uncapped pairs with fingerprint resemblance >= 0.5; "
        "10x rows estimated over the deterministic 10% doc sample "
        "(cap computed on full-corpus buckets before sampling — "
        "unbiased). The 10x corpus is 90% exact duplicates by "
        "construction, so cap 50 is too aggressive there while the "
        "production cap 200 holds ~0.99 near-dup recall; raw "
        ">=2-shared-fps pair recall is dominated by boilerplate "
        "co-occurrence and exact-duplicate saturation (see sweep "
        "comment) and is deliberately not the reported metric"
    )
    return out


LEV_CAP_SWEEP = (32, 64, 128)  # 64 is the production LEV_BLOCK_CAP


def _lev_cap_sweep(spark, sf_dir: str) -> dict:
    """dedup_edit_distance's 10x trend ratio is capped-pair growth (CAP^2
    per block): report what LEV_BLOCK_CAP COSTS in recall next to what it
    buys in runtime. Truth = the UNCAPPED qualifying pairs (blocking +
    length band + lev <= 8 are the operator's DEFINITION; only the cap is
    a scalability knob). One uncapped rank-tagged pass grades every cap (a
    pair survives cap c iff max(rank_a, rank_b) <= c); the 10x truth runs
    over the deterministic 10% doc sample with ranks computed on
    FULL-corpus blocks first, so each sampled pair's cap survival is exact
    (the aggregate recall is a deterministic-sample estimate, conditional
    on the mod-10 endpoints) at ~1% of the join cost. Timings re-run the
    real operator per cap on the 10x corpus, direct and composed: the
    composed path's output is identical but its DP runs once per distinct
    (pfx, len) pair, so it should be ~cap-insensitive where the direct
    path grows CAP^2 per saturated block."""
    from pyspark.sql import functions as F

    from airflow_iceberg_pipeline_stock_tracker_spark.operators.dedup import (
        edit_distance_pair_ranks,
        edit_distance_pairs,
        edit_distance_pairs_composed,
    )
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import (
        load_table,
    )

    big_dir = _replica_dir(spark, sf_dir, SCALE_TABLES, SCALE_FACTOR)
    docs10 = load_table(spark, big_dir, "documents")
    out = {}
    for cap in LEV_CAP_SWEEP:
        out[f"sec_10x_cap_{cap}"], _ = _timed(
            lambda: edit_distance_pairs(docs10, cap=cap)
        )
        out[f"composed_sec_10x_cap_{cap}"], _ = _timed(
            lambda: edit_distance_pairs_composed(docs10, cap=cap)
        )
    base_docs = load_table(spark, sf_dir, "documents")
    for label, corpus, mod in (("base", base_docs, None), ("10x", docs10, 10)):
        ranks = edit_distance_pair_ranks(corpus, doc_sample_mod=mod)
        hist = {
            int(r.max_rn): r.n
            for r in ranks.groupBy("max_rn")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_truth = sum(hist.values())
        out[f"true_pairs_{label}"] = n_truth
        for cap in LEV_CAP_SWEEP:
            n_hit = sum(n for rn, n in hist.items() if rn <= cap)
            out[f"recall_{label}_cap_{cap}"] = (
                round(n_hit / n_truth, 4) if n_truth else None
            )
    out["recall_note"] = (
        "truth = uncapped pairs under the operator's own blocking "
        "(16-char block + length band + prefix lev <= 8); 10x rows "
        "estimated over the deterministic 10% doc sample with ranks "
        "from full-corpus blocks (per-pair cap survival exact; the "
        "aggregate recall is a deterministic-sample estimate, "
        "conditional on both endpoints being ≡0 mod 10). The 10x "
        "corpus is 90% "
        "exact duplicates, so block membership saturates the cap by "
        "construction — recall there prices the cap against the "
        "worst-case shape, the base row against the realistic one"
    )
    return out


def _kmv_grader_split(spark, sf_dir: str) -> dict:
    """events_kmv_distinct's registered row times sketch + GRADER (an
    exact per-type COUNT(DISTINCT user_id), the one legitimately
    user-scale stage, present only to grade the sketch). Time the
    sketch-only pipeline (bottom-k via WindowGroupLimit + the estimate
    projection) on the SAME 100x dir: full_row_sec - sketch_only_sec is
    the grader's bill."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators import kmv
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import (
        load_table,
    )

    deep_dir = _events_100x(spark, sf_dir)

    def sketch_only():
        ev = load_table(spark, deep_dir, "events")
        sk = kmv.bottom_k(ev, ["event_type"], "user_id")
        return kmv.kmv_estimate(sk, ["event_type"])

    return {
        "sketch_only_sec_100x": _timed(sketch_only)[0],
        "note": (
            "the registered events_kmv_distinct row also computes the "
            "exact COUNT(DISTINCT) grader; its 100x time minus this "
            "sketch-only time is the grader's share. r14 finding: the "
            "sketch side itself dominates (~80% of the row's 100x "
            "time) — the cost is the full-scan bottom-k window's "
            "per-partition partial top-k sort, not the grader; the "
            "sketch TABLE still stays |types| x k, it is the scan "
            "that scales, as it must"
        ),
    }


def _cms_rank_agreement(spark, deep_dir: str) -> dict:
    """CMS's contract is heavy-hitter IDENTIFICATION, not per-item counts
    — width 1024's 2N/w bound legitimately swamps per-item error at 100x.
    Grade the actual contract, TIE-AWARE: the 100x replica corpus makes
    every count level a 100-way tie (each user repeats once per disjoint
    replica), so "the" exact top-20 is an arbitrary id-tiebroken pick from
    a tie class — identification is scored against the CLOSURE {u:
    exact(u) >= 20th count} instead, and tau-a reports how many of the
    exact top-20's C(20,2) pairs were comparable at all (count ties
    compare neither way). The diagnostics (top/median count, closure
    size) make the verdict self-reading: the uniform corpus has NO
    separated heavy hitters, so a 2N/w >> top-median gap means
    identification fails AT ANY plausible width — the failure mode, not
    a tuning miss. The Zipf dir, where separated heavy hitters exist by
    construction, grades the same contract where it can succeed."""
    from pyspark.sql import functions as F

    from airflow_iceberg_pipeline_stock_tracker_spark.operators import cms
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import (
        load_table,
    )

    ev = load_table(spark, deep_dir, "events")
    sketch = cms.cms_build(ev, "user_id").localCheckpoint(eager=True)
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
    ).persist()
    exact_top = exact.orderBy(F.desc("exact_n"), "user_id").limit(20).collect()
    c20 = min(r.exact_n for r in exact_top)
    closure = {
        r.user_id
        for r in exact.where(F.col("exact_n") >= c20)
        .select("user_id")
        .collect()
    }
    n_total = exact.count()
    p50 = exact.agg(
        F.expr("percentile(exact_n, 0.5)").alias("p")
    ).collect()[0].p
    cms_top = (
        cms.cms_estimate(sketch, exact.select("user_id"), "user_id")
        .orderBy(F.desc("cms_est"), "user_id")
        .limit(20)
        .collect()
    )
    cms_ids = {r.user_id for r in cms_top}
    recall = len(cms_ids & closure) / 20.0
    exact_ids = [r.user_id for r in exact_top]
    est_of = {
        r.user_id: r.cms_est
        for r in cms.cms_estimate(
            sketch,
            spark.createDataFrame(
                [(i,) for i in exact_ids], "user_id bigint"
            ),
            "user_id",
        ).collect()
    }
    exact_of = {r.user_id: r.exact_n for r in exact_top}
    conc = disc = comparable = 0
    for i in range(len(exact_ids)):
        for j in range(i + 1, len(exact_ids)):
            a, b = exact_ids[i], exact_ids[j]
            de = exact_of[a] - exact_of[b]
            dc = est_of[a] - est_of[b]
            if de != 0:
                comparable += 1
                if de * dc > 0:
                    conc += 1
                elif de * dc < 0:
                    disc += 1
    exact.unpersist()
    return {
        "top20_identification_recall_tie_aware": round(recall, 4),
        "kendall_tau_a_top20": (
            round((conc - disc) / comparable, 4) if comparable else None
        ),
        "comparable_pairs_of_190": comparable,
        "tie_class_size_at_20th_count": len(closure),
        "top_count": int(max(r.exact_n for r in exact_top)),
        "median_count": float(p50),
        "n_distinct_users": int(n_total),
        "note": (
            "tie-aware contract grader: recall = |cms-est top-20 over "
            "ALL users ∩ {u: exact >= 20th count}| / 20; tau-a only "
            "over count-distinct pairs. The replica corpus has no "
            "separated heavy hitters (every level is a 100-way tie, "
            "top barely above median), so 2N/w noise swamps the gap "
            "at ANY plausible width — the recorded failure is the "
            "distribution's, matching r13's honest per-item error"
        ),
    }


# (trend row, key in that row, fn(spark, sf_dir) -> value), run in order
# after the trend
RECEIPTS = (
    ("similarity_ivf_topk", "amortization_at_q256", _ivf_amortization),
    ("dedup_winnowing_pairs", "cap_sweep_sec_10x", _winnow_cap_sweep),
    ("dedup_edit_distance", "cap_sweep_10x", _lev_cap_sweep),
    ("events_kmv_distinct", "grader_split_100x", _kmv_grader_split),
    (
        "events_cms_heavy_hitters",
        "rank_agreement_100x",
        lambda spark, sf_dir: _cms_rank_agreement(
            spark, _events_100x(spark, sf_dir)
        ),
    ),
    (
        "events_cms_heavy_hitters",
        "rank_agreement_100x_zipf",
        lambda spark, sf_dir: _cms_rank_agreement(
            spark, _zipf_events_dir(spark, sf_dir, DEEP_FACTOR)
        ),
    ),
)

# ---------------------------------------------------------------------------
# points: registered rows re-timed on a bigger or skewed replica dir
# ---------------------------------------------------------------------------

# two decades separate amortized fixed overhead from a genuine superlinear
# term, which one decade can't: the corpus-scaling text ops, winnowing
# (zero-shuffle per-row selection, the purest linear citizen) among them
DEEP_QUERIES = ("text_bm25_search", "text_lm_score", "text_winnowing")

# the sketch tier: registers stay <= |types| x 256 rows and the
# seasonality profile <= |types| x 168 while events grow 100x, so sec/row
# should stay flat across both decades; hll_distinct's exact
# COUNT(DISTINCT) grader is the one stage that scales with users. For
# kmv/cms the accuracy at 100x is recorded too (_DEEP_ACCURACY).
DEEP_EVENTS_QUERIES = (
    "events_hll_distinct",
    "events_hourofweek_seasonality",
    "events_kmv_distinct",
    "events_cms_heavy_hitters",
)

# row -> (error column, denominator column or None if already relative):
# after a point's timing, these rows' bounded results (<= |types| or
# top-20 rows) are re-collected on the same dir and max |err|/denom is
# stored as max_rel_err_100x. CMS width 1024 means overestimate ~ 2N/1024
# grows with N; KMV's rel_err should stay ~1/sqrt(k), scale-free.
_DEEP_ACCURACY = {
    "events_kmv_distinct": ("rel_err", None),
    "events_cms_heavy_hitters": ("overestimate", "exact_n"),
}

# dq_profile's skinny-explode hash aggregate and the IVM rebuild, both
# lineitem-driven; orders replicate with the join-consistent orderkey
# stride so every replica's lines join its own orders
DEEP_LINEITEM_QUERIES = ("dq_profile", "orders_ivm_join")

# 100-member exact-duplicate groups, the shape that makes an uncollapsed
# band self-join quadratic: with the duplicate collapse, knn/LOF should
# grow with the linear member fan-out, never with C(100,2) pairs
DEEP_EMBEDDINGS_QUERIES = (
    "similarity_knn_graph",
    "embedding_outlier_lof",
    "similarity_dup_groups",
)

# the user/type-keyed events rows whose uniform 10x trend flatters them
# (disjoint replica populations mean NO key grows), re-timed where the
# head user's partition is ~10x the median — the shape the salting
# machinery (functions/skew.py) exists for. events_twap is deliberately
# absent: it keys on (event_type, day) and the Zipf dir reassigns only
# user_id, so its time there would be a no-op presented as skew evidence.
ZIPF_10X_QUERIES = (
    "events_type_totals_salted",
    "events_heavy_hitters",
    "events_sessionize",
    "events_pattern_match",
    "events_attribution",
    "events_decay_topk",
    "events_retention",
    "events_funnel",
    "events_transitions",
    "events_top_paths",
)

# the orders trend rows with a skewable key (o_custkey order ownership);
# orders_ship_sla's keys (5 priorities x a bounded lag domain) CANNOT
# skew, so its Zipf time reads as the fact-volume control
ZIPF_10X_ORDERS_QUERIES = (
    "orders_ivm_join",
    "orders_ivm_delete",
    "orders_ivm_outer",
    "orders_ship_sla",
)

_ZIPF_EVENTS_NOTE = (
    "same rows' sec_10x under the ZIPF replica assignment (head "
    "user ~10x median partition) vs the uniform 10x dir's "
    "disjoint-population flattery; read against each row's "
    "sec_10x in scale_trend"
)
_ZIPF_ORDERS_NOTE = (
    "same rows' sec_10x under ZIPF order ownership (head customer "
    "~5% of all orders; custkey rollups are map-combinable, so "
    "partial aggregation must absorb the head) vs the uniform 10x "
    "dir's disjoint customers; orders_ship_sla is the volume "
    "control (its keys cannot skew). Read against each row's "
    "sec_10x in scale_trend"
)

# (label, replica dir fn(spark, sf_dir), rows, key set on their trend
# rows, note). A point with a note is also stored in BENCH_DETAIL under
# its label; a sec_100x point also records time_ratio_100x_vs_10x.
POINTS = (
    (
        "100x_documents",
        lambda spark, sf_dir: _replica_dir(spark, sf_dir, ("documents",), DEEP_FACTOR),
        DEEP_QUERIES,
        "sec_100x",
        None,
    ),
    ("100x_events", _events_100x, DEEP_EVENTS_QUERIES, "sec_100x", None),
    (
        "100x_lineitem",
        lambda spark, sf_dir: _replica_dir(
            spark, sf_dir, ("lineitem", "orders"), DEEP_FACTOR
        ),
        DEEP_LINEITEM_QUERIES,
        "sec_100x",
        None,
    ),
    (
        "100x_embeddings",
        lambda spark, sf_dir: _replica_dir(
            spark, sf_dir, ("embeddings",), DEEP_FACTOR
        ),
        DEEP_EMBEDDINGS_QUERIES,
        "sec_100x",
        None,
    ),
    (
        "zipf_10x_events",
        lambda spark, sf_dir: _zipf_events_dir(spark, sf_dir, SCALE_FACTOR),
        ZIPF_10X_QUERIES,
        "sec_10x_zipf",
        _ZIPF_EVENTS_NOTE,
    ),
    (
        "zipf_10x_orders",
        lambda spark, sf_dir: _zipf_orders_dir(spark, sf_dir, SCALE_FACTOR),
        ZIPF_10X_ORDERS_QUERIES,
        "sec_10x_zipf",
        _ZIPF_ORDERS_NOTE,
    ),
)


def _max_rel_err(rows, err_col: str, denom_col: str | None):
    if not rows:
        return None
    if denom_col is None:
        return round(max(abs(r[err_col]) for r in rows), 4)
    return round(max(abs(r[err_col]) / r[denom_col] for r in rows), 4)


def _run_points(spark, sf_dir: str, queries, trend: dict) -> dict:
    """Time every POINTS row, attach the results to the trend rows, and
    return the noted points for BENCH_DETAIL."""
    detail = {}
    for label, make_dir, names, key, note in POINTS:
        d = make_dir(spark, sf_dir)
        secs = {n: _timed(lambda: queries[n](spark, d))[0] for n in names}
        for n, sec in secs.items():
            e = trend.get(n)
            if not e:
                continue
            e[key] = sec
            if key != "sec_100x":
                continue
            e["time_ratio_100x_vs_10x"] = (
                round(sec / e["sec_10x"], 2) if e["sec_10x"] else None
            )
            if n in _DEEP_ACCURACY:
                err = _max_rel_err(
                    queries[n](spark, d).collect(), *_DEEP_ACCURACY[n]
                )
                if err is not None:
                    e["max_rel_err_100x"] = err
        print(f"# {label} point: {secs}", file=sys.stderr)
        if note is not None:
            detail[label] = {**secs, "note": note}
    return detail


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # host-load preflight: a noisy neighbour inflates every timing
    # uniformly and nothing else in the artifacts would record it. The
    # 1-min loadavg at start and end goes to BENCH_DETAIL (not stdout, the
    # one-line contract); warn on stderr when the host is already busy.
    load_start = round(os.getloadavg()[0], 2)
    if load_start > 1.0:
        print(
            f"# WARNING: 1-min loadavg {load_start} > 1 at bench start —"
            " timings will carry host-load inflation; prefer a quiet"
            " window for gate runs",
            file=sys.stderr,
        )

    # fail fast on silently regenerated testdata: pyarrow footer check
    # only, names the drifted column on failure
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.schema_probe import (
        check_sf_dir,
    )

    check_sf_dir(sf_dir)

    from airflow_iceberg_pipeline_stock_tracker_spark.session import get_spark
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming.throughput import (
        capacity_knee,
    )
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="bench")
    queries = entrymod.queries()

    # warm the JVM/codegen path once on a trivial action so the first
    # measured query doesn't pay session startup
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    cold: dict[str, float] = {}
    timings: dict[str, float] = {}
    all_times: dict[str, list[float]] = {}
    # Queries that print (the pipeline's reference-parity DQ echo) must
    # not break the ONE-JSON-line stdout contract: all query-time stdout
    # is routed to stderr; only the final JSON line reaches stdout.
    _stdout = sys.stdout
    sys.stdout = sys.stderr
    try:
        # the sustained-rate streaming knee is the most load-sensitive
        # measurement, so it runs first, on the preflight host rather than
        # one the bench itself has heated; it records its own loadavg,
        # retries once if it starts busy and flags inconclusive_load. The
        # ladder starts near the highest rate every earlier run absorbed
        # and goes far enough that the first non-sustained offer is
        # OBSERVED — a ladder that stops at an absorbed rate states a
        # floor, not capacity.
        knee = capacity_knee(
            spark, start_rows_per_sec=1_600_000, run_sec=6.0, max_steps=9
        )
        print(f"# streaming capacity knee: {knee}", file=sys.stderr)
        _measure(spark, queries, sf_dir, cold, timings, all_times)
        scale_trend = _scale_trend(spark, sf_dir, queries)
        print(f"# scale trend: {scale_trend}", file=sys.stderr)
        for row, key, receipt in RECEIPTS:
            scale_trend[row][key] = receipt(spark, sf_dir)
            print(f"# {row} {key}: {scale_trend[row][key]}", file=sys.stderr)
        points = _run_points(spark, sf_dir, queries, scale_trend)
        # the noise re-measure runs last: the trend/knee work above is
        # what heats the box, and its decay gate needs to run after it
        requieted = _requiet(spark, queries, sf_dir, timings, all_times, cpus)
        print(f"# requieted: {requieted.get('rows', {})}", file=sys.stderr)
    finally:
        # the ONE-JSON-line stdout contract must survive any mid-bench
        # exception — restore stdout unconditionally
        sys.stdout = _stdout

    total = round(sum(timings.values()), 3)
    spread = {
        q: round(max(ts) - min(ts), 3)
        for q, ts in all_times.items()
        if len(ts) > 1
    }
    common_r2 = round(
        sum(t for q, t in timings.items() if q in R2_COMMON_SET), 3
    )
    proof_tier = round(
        sum(t for q, t in timings.items() if q in PROOF_TIER), 3
    )
    amort = scale_trend["similarity_ivf_topk"]["amortization_at_q256"]
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.similarity import (
        IVF_K,
    )

    # Full per-query detail goes to sidecar files: stdout carries only the
    # totals (a one-line JSON with every row outgrew a log line's capture).
    # BENCH_DETAIL_c<cpus>.json keeps one record per core count, so a
    # low-core run can't clobber another count's per-row detail;
    # BENCH_DETAIL.json is the latest run's copy.
    here = os.path.dirname(os.path.abspath(__file__))
    load_end = round(os.getloadavg()[0], 2)
    detail = {
        "sf": sf,
        "cpus": cpus,
        "queries": timings,
        "cold": cold,
        # the capacity-knee probe runs before the measurement passes, so
        # "cold" pass timings run on a JVM the knee already warmed
        "cold_note": (
            "cold pass measured AFTER the capacity-knee probe "
            "since r14 (knee needs the quiet host more); cold "
            "numbers are knee-warmed vs r13-and-earlier"
        ),
        "spread": spread,
        "throughput": {"capacity_knee": knee},
        "scale_trend": scale_trend,
        "ivf_amortization": {
            "corpus": "embeddings@10x",
            "n_queries": IVF_AMORT_QUERIES,
            "nlist": IVF_K,
            "brute_sec": amort["brute_sec_10x"],
            "ivf_sec": amort["ivf_sec_10x"],
            "ivf_wins": amort["ivf_wins"],
        },
        **points,
        # the flagged-row re-measure loop's samples + loadavgs, so noise
        # adjudication is machine-checkable from the artifact
        "requieted": requieted,
        # values > ~1 beyond this process's own threads mean the run is
        # load-inflated; load_end includes the bench's own just-finished
        # Spark work, so only load_start reads as a preflight
        "loadavg_1m": {"start": load_start, "end": load_end},
    }
    for path in ("BENCH_DETAIL.json", f"BENCH_DETAIL_c{cpus}.json"):
        with open(os.path.join(here, path), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "common_r2_sec": common_r2,
                "proof_tier_sec": proof_tier,
                "cold_total_sec": round(sum(cold.values()), 3),
                "runs_per_query": 2,
                "runs_note": "min of 2 (3 for <1s rows; proofs once; noisy/flagged rows +2 quiet-gated samples, see requieted); per-query detail in BENCH_DETAIL.json + BENCH_DETAIL_c<cpus>.json",
                "agg": "min",
                "max_sustained_stream_rows_per_sec": knee[
                    "max_sustained_rows_per_sec"
                ],
                "first_failed_offer": knee["first_failed_offer"],
                "scale_trend_max_time_ratio": max(
                    (
                        e["time_ratio"]
                        for e in scale_trend.values()
                        if e["time_ratio"] is not None
                    ),
                    default=None,
                ),
                # the raw max above can read a superseded direct row kept
                # for the side-by-side; this is the worst ratio over rows
                # that ARE the production path
                "scale_trend_production_worst": max(
                    (
                        {"query": n, "time_ratio": e["time_ratio"]}
                        for n, e in scale_trend.items()
                        if e["time_ratio"] is not None
                        and "superseded_by" not in e
                    ),
                    key=lambda d: d["time_ratio"],
                    default=None,
                ),
                "sf": sf,
            }
        )
    )


def _reset_pass(spark) -> None:
    """Standard state before a measurement pass: catalog-cached relations
    are dropped so a pass can't hit an earlier pass's cache by
    logical-plan match, and the streaming memory-sink tables (each a full
    drained result in driver memory) go, so a pass doesn't run against a
    heap aged by the last."""
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith("q_"):
            spark.catalog.dropTempView(t.name)


def _time_row(spark, queries, name: str, sf_dir: str) -> tuple[float, int]:
    """One timed sample of a registered row: (sec, rows).

    Memoized intermediates (shingles, mined pair graphs, contamination
    flags) are a real per-session feature, but every sample pays for its
    own. Kept across a pass, the memo would bill the shared mining to the
    family's first row in iteration order and let the rest read it for
    ~0, so a row's time would depend on its place in the order.

    A _STORAGE_SENSITIVE row's min-of-passes swung 2.07/2.60/3.24s across
    same-code runs because its persist()+self-join timing depends on what
    the block store and heap inherited from the preceding rows, so every
    sample of it, in any pass, starts from a cleared cache and a GC'd
    heap: the row times the band join, not persist scheduling against a
    run-dependent cache residue."""
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.llm_queries import (
        clear_result_caches,
    )

    clear_result_caches()
    if name in _STORAGE_SENSITIVE:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    return _timed(lambda: queries[name](spark, sf_dir), passes=1)


def _requiet(spark, queries, sf_dir, timings, all_times, cpus) -> dict:
    """Noise adjudication as an in-artifact re-measure loop.

    Rows whose measured passes disagreed badly (spread > 50% of the min)
    — or whose only sample is a RUN_ONCE cold read taken right after the
    capacity knee heated the box — get 2 standalone re-samples behind a
    one-time loadavg decay gate, with every sample and its 1-min loadavg
    recorded in BENCH_DETAIL. The headline keeps the same
    min-across-measured-passes aggregation; the pre-requiet value is
    recorded per row so the single-pass number stays visible alongside.
    """
    flagged = []
    for name in queries:
        t = timings.get(name)
        if t is None:
            continue
        samples = all_times.get(name, [])
        spread = max(samples) - min(samples) if len(samples) > 1 else 0.0
        if name in RUN_ONCE and t >= 2.0:
            flagged.append(name)
        elif t >= 0.8 and spread > 0.5 * t:
            flagged.append(name)
    flagged = sorted(flagged, key=lambda n: -timings[n])[:10]
    out: dict = {
        "flag_rule": (
            "RUN_ONCE cold sample >= 2s, or spread > 50% of min at >= "
            "0.8s; top 10 by time; 2 re-samples each after a one-time "
            "loadavg decay gate; headline stays min across ALL measured "
            "samples (pre-requiet value kept per row)"
        ),
        "rows": {},
    }
    if not flagged:
        return out
    # one-time decay gate: the bench's own trend/knee work just heated
    # the box; wait for the 1-min loadavg to fall back toward idle so the
    # re-samples measure the plan, not the bench's wake. (While a
    # re-sample RUNS, loadavg includes our own executor threads — only
    # this pre-gate reads as an external-noise preflight.)
    gate = max(4.0, cpus / 4.0)
    deadline = time.time() + 120
    while os.getloadavg()[0] > gate and time.time() < deadline:
        time.sleep(5)
    out["gate_loadavg_1m"] = round(os.getloadavg()[0], 2)
    out["gate_timed_out"] = os.getloadavg()[0] > gate
    for name in flagged:
        pre = timings[name]
        samples, loads = [], []
        for _ in range(2):
            _reset_pass(spark)
            loads.append(round(os.getloadavg()[0], 2))
            samples.append(_time_row(spark, queries, name, sf_dir)[0])
        all_times.setdefault(name, []).extend(samples)
        timings[name] = min(timings[name], *samples)
        out["rows"][name] = {
            "pre_requiet": pre,
            "samples": samples,
            "loadavg_1m": loads,
            "final": timings[name],
        }
        print(
            f"# requiet {name}: pre={pre} samples={samples} "
            f"loads={loads} -> {timings[name]}",
            file=sys.stderr,
        )
    return out


def _measure(spark, queries, sf_dir, cold, timings, all_times) -> None:
    """Passes 0 and 1 over every row (RUN_ONCE rows: pass 0 only), and a
    pass 2 for the fast (< 1s) and _STORAGE_SENSITIVE rows: same-code
    swings of up to 1.5x between whole runs make 2x regression detection
    noisy, a third sample on the cheap rows costs seconds, and the
    recorded per-row spread (max-min over passes) separates noise from
    regression. timings keeps the min; cold keeps pass 0."""
    for rnd in (0, 1, 2):
        _reset_pass(spark)
        for name in queries:
            if rnd > 0 and name in RUN_ONCE:
                continue
            if (
                rnd == 2
                and timings.get(name, 99.0) >= 1.0
                and name not in _STORAGE_SENSITIVE
            ):
                continue
            t, n = _time_row(spark, queries, name, sf_dir)
            if rnd == 0:
                cold[name] = t
            timings[name] = min(timings.get(name, t), t)
            all_times.setdefault(name, []).append(t)
            print(f"# {name}[{rnd}]: {t}s ({n} rows)", file=sys.stderr)


if __name__ == "__main__":
    main()
