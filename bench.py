"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}.

Each query executes fully (noop sink — no driver collect, no result
truncation) after a warm-up of the session. Timings are end-to-end per
query including the parquet scan, which is what matters at scale.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_wrangle_openstreetmaps_data_spark.plans import queries as Q
from data_wrangle_openstreetmaps_data_spark.session import get_spark

HEADLINE = [
    "q_topk_group_count",
    "q_group_count_user",
    "q_count_distinct",
    "q_join_resolve_refs",
    "q_topk_per_group",
    "q_sample_every_10th",
    "q_string_normalize_join",
    "q_map_assembly_filtered",
    "q_token_count",
    "q_dedup_exact",
    "q_ngram_jaccard",
    "q_dedup_minhash",
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q6",
    "q_doc_fingerprint",
    "q_quality_score",
    "q_lang_id",
    "q_bpe_token_count",
    "q_rollup_counts",
    "q_time_bucket",
    "q_sessionize",
    "q_asof_join",
    "q_range_join",
    "q_window_functions",
    "q_text_search",
    "q_embedding_topk",
    "q_embedding_topk_arrow",
    "q_embedding_knn_bucketed",
    # round-6 additions
    "q_tpch_q18",
    "q_bm25_search",
    "q_chunk_dedup",
    "q_latest_per_key",
    "q_cdc_merge",
    # round-6 second wave: TPC-H closure + sketches
    "q_tpch_q7",
    "q_tpch_q10",
    "q_tpch_q21",
    "q_kmv_distinct",
    "q_cooccurrence_lift",
    # round-6 third wave: retrieval fusion, vocab build, SCD2
    "q_hybrid_search_rrf",
    "q_vocab_df",
    "q_scd2_intervals",
    # round-7 additions: real codecs, bloom pruning, table checksums,
    # tokenizer-training pairs, bounded-window EWMA
    "q_media_decode_bmp",
    "q_media_resample_wav",
    "q_bloom_prune_join",
    "q_range_checksum_diff",
    "q_bpe_merge_candidates",
    "q_ewma",
    # round-7 late wave: graph, HLL, skyline, robust stats, intervals
    "q_hll_distinct",
    "q_degree_distribution",
    "q_skyline",
    "q_decay_trending",
    "q_welch_ttest",
    "q_negative_sampling",
    "q_readability",
    # round-8 additions: PNG codec, bigram LM, containment, Hilbert
    # layout, native session windows, drift audit, eval metrics
    "q_media_decode_png",
    "q_bigram_logprob",
    "q_containment_join",
    "q_hilbert_layout",
    "q_session_window_native",
    "q_column_stats_drift",
    "q_retrieval_metrics",
    "q_hll_merge",
    # round-8 late wave: experiment readouts, drift, classifier eval,
    # windowed audio loudness
    "q_cuped",
    "q_js_divergence",
    "q_auc",
    "q_decile_lift",
    "q_audio_rms",
    # round-8 final wave: Arrow Gram kernel, graph modularity, geohash,
    # mergeable quantile sketches, trend forecasting, nearest as-of
    "q_embedding_covariance",
    "q_modularity",
    "q_geohash",
    "q_quantile_sketch_grouped",
    "q_holt_linear",
    "q_asof_nearest",
    "q_weighted_median",
    "q_out_of_order_audit",
    # round-9: whale-capped common-neighbor join + sharded kNN graph
    "q_resource_allocation_capped",
    "q_knn_graph",
    # round-10: IVM refresh, URL canonicalization, bitmap-index algebra,
    # bitemporal, set-Shapley, PQ, sweep-line concurrency
    "q_incremental_agg_refresh",
    "q_url_canonicalize",
    "q_bitmap_index_intersect",
    "q_bitemporal_asof",
    "q_attribution_shapley",
    "q_embedding_pq",
    "q_max_concurrency",
    # round-12: the newest heavy pipeline (SRP pairs → pointer-jumping
    # CC → keep-best report) — steady-state tracking after the
    # dup_clusters edge-persist fix (100s → 14s at sf0.1)
    "q_dedup_semantic",
]


# Fixed CONTROL prefix (r12 verdict item 6): five stable queries timed
# FIRST each run; their steady-median total divided by CONTROL_REF_TOTAL
# (measured best-of on a clean box at sf0.1, r13) is emitted as
# control_ratio in every JSON line. Ratios well above 1.0 mean the box
# was contended during the run — compare such runs only against their own
# control, never against another round's absolute numbers. This replaces
# the manual drift triage every cross-round comparison needed in r11/r12
# (single-run totals swung 1.65× within minutes).
CONTROL = [
    "q_tpch_q6",
    "q_tpch_q1",
    "q_group_count_user",
    "q_token_count",
    "q_window_functions",
]
# r14: q_tpch_q1 (a control member) got 2.5x faster, so the reference
# total moved; recalibrated from the best of three same-HEAD r14 runs
# (2.49/2.68/2.74 measured control totals). The r13 constant was 3.24 —
# apply that to interpret pre-r14 control_ratio values.
CONTROL_REF_TOTAL = 2.49  # sec at sf0.1, steady-median total, r14 clean box


def run_query(spark, name: str, sf_dir: str, runs: int = 5) -> list[float]:
    """All `runs` execution times. The first run pays whole-stage-codegen
    JIT compile (~1-4s for wide CASE/regex expressions), which amortizes to
    zero on a long-lived cluster — steady-state (median after warm-up) is
    the honest per-query cost, and the min/max spread distinguishes a real
    regression from shared-sandbox noise (sub-second queries have shown
    2-3× run-to-run drift, see PERF.md §variance)."""
    fn = Q.REGISTRY[name].spark
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return times


def main() -> None:
    import statistics

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or 0.1)
    runs = int(os.environ.get("BENCH_RUNS", "5"))
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM + parquet footer caches with the flagship
    Q.REGISTRY["q_topk_group_count"].spark(spark, sf_dir).count()

    # control prefix: measure box health BEFORE the headline pass
    ctrl_total = 0.0
    ctrl_detail: dict[str, float] = {}
    for name in CONTROL:
        ts = run_query(spark, name, sf_dir, runs=3)
        med = statistics.median(ts[1:] if len(ts) > 1 else ts)
        ctrl_detail[name] = round(med, 3)
        ctrl_total += med
    control_ratio = round(ctrl_total / CONTROL_REF_TOTAL, 3)

    def cached_bytes() -> int:
        # snapshot of bytes currently held by the block manager for
        # persisted RDDs (storage memory the bench session is carrying)
        return sum(
            i.memSize() + i.diskSize()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        )

    timings: dict[str, float] = {}      # median: the headline number
    t_min: dict[str, float] = {}
    t_max: dict[str, float] = {}
    t_cold: dict[str, float] = {}       # run-1: JIT + cold caches (r13 v.1)
    peak_cached = 0
    for name in HEADLINE:
        ts = run_query(spark, name, sf_dir, runs=runs)
        steady = ts[1:] if len(ts) > 1 else ts  # drop the JIT-compile run
        timings[name] = round(statistics.median(steady), 3)
        t_min[name] = round(min(steady), 3)
        t_max[name] = round(max(steady), 3)
        # cold = run 1: pays codegen JIT AND fills any persist the query
        # plans for, so (cold - median) upper-bounds the warm-cache
        # flattery the steady median gives persist-based optimizations
        t_cold[name] = round(ts[0], 3)
        peak_cached = max(peak_cached, cached_bytes())

    total = round(sum(timings.values()), 3)
    # The driver captures a bounded TAIL of stdout and parses a JSON line
    # from it; a round-10 run recorded "parsed": null because the single
    # full-detail line exceeded that buffer and was cut mid-JSON. Emit a
    # compact summary line FIRST (for head-parsers / humans), the full
    # per-query detail in the middle (for the repo's own round-over-round
    # diffs), and repeat the compact line LAST so a tail capture always
    # contains one complete parseable JSON line.
    compact = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "n_queries": len(timings),
            "total_min": round(sum(t_min.values()), 3),
            "runs": runs,
            "sf": sf,
            "control_ratio": control_ratio,
        }
    )
    print(compact, flush=True)
    print(
        json.dumps(
            {
                "metric": "headline_queries_detail",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_min": t_min,
                "queries_max": t_max,
                "queries_cold": t_cold,
                "runs": runs,
                "total_min": round(sum(t_min.values()), 3),
                "total_cold": round(sum(t_cold.values()), 3),
                "sf": sf,
                "control_ratio": control_ratio,
                "control": ctrl_detail,
                "peak_cached_bytes": peak_cached,
            }
        )
    )
    # Compact per-query medians on their own line, second-to-last (r13
    # verdict item 2): the driver's PERF parser reads a bounded tail of
    # stdout, so the full detail line above overflows it and per-query
    # round-over-round came back empty in r13. This line is medians-only
    # (~2.5 KB), so even a 2000-char tail ends with the LAST ~65 entries
    # of it plus the complete compact line below — the driver still
    # parses the same final compact JSON line it always has.
    print(
        json.dumps(
            {"metric": "per_query_median", "sf": sf, "queries": timings},
            separators=(",", ":"),
        ),
        flush=True,
    )
    print(compact, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
