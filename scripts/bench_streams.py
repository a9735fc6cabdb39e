"""Streaming micro-bench (r13 verdict item 9): throughput of the three
STATEFUL streaming operators through the real micro-batch loop, at two
input sizes, with a named bottleneck each.

Operators (registry entries, run exactly as the oracle sweep runs them):
  q_streaming_dedup_native        — dropDuplicatesWithinWatermark state
  q_sessionize_stream_watermarked — applyInPandasWithState sessionizer
  q_streaming_cdc_apply           — foreachBatch exactly-once CDC merge

rows/s = rows of the operator's input table (events, or orders for the
CDC apply, whose change set is drawn from orders) / end-to-end wall
including the availableNow drain and sink. Each (operator, sf) is run
``runs`` times; best-of is reported (shared-box drift).

Output: one JSON line per (operator, sf) plus a summary JSON line —
written to stdout and BENCH_streams_r14.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_wrangle_openstreetmaps_data_spark import catalog
from data_wrangle_openstreetmaps_data_spark.plans import queries as Q
from data_wrangle_openstreetmaps_data_spark.session import get_spark

SFS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
OPS = {
    "q_streaming_dedup_native": "events",
    "q_sessionize_stream_watermarked": "events",
    # the CDC change set is drawn from orders (plans/queries/streams.py)
    "q_streaming_cdc_apply": "orders",
}
RUNS = int(os.environ.get("BENCH_STREAM_RUNS", "3"))


def main() -> None:
    spark = get_spark("bench_streams")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for sf in SFS:
        n_input = {
            t: catalog.table(spark, sf, t).count()
            for t in set(OPS.values())
        }
        for name, input_table in OPS.items():
            walls = []
            for _ in range(RUNS):
                spark.sparkContext.setJobDescription(f"{name} @ {sf}")
                t0 = time.perf_counter()
                out = Q.REGISTRY[name].spark(spark, sf)
                n_out = out.count()
                walls.append(time.perf_counter() - t0)
            best = min(walls)
            rec = {
                "op": name,
                "sf": sf,
                "input_rows": n_input[input_table],
                "output_rows": n_out,
                "wall_s_best": round(best, 3),
                "wall_s_all": [round(w, 3) for w in walls],
                "rows_per_s": round(n_input[input_table] / best, 1),
            }
            results.append(rec)
            print(json.dumps(rec), flush=True)
    summary = {
        "metric": "streaming_stateful_throughput",
        "unit": "rows/s",
        "runs_per_point": RUNS,
        "results": results,
    }
    print(json.dumps(summary))
    with open("BENCH_streams_r14.json", "w") as f:
        json.dump(summary, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
