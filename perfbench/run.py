"""Benchmark of the OSM wrangle pipeline.

    python3 perfbench/run.py --workload audit_pbf --seed 1 --seconds 10 --trace 0

Run from the repository root. The corpus is generated from ``--seed``
into ``.perfbench/`` (cached per seed and size). One client process
drives the engine on ``local[<cores>]``: it sets up once (session start
plus the workload's untimed warm-up, which takes the JVM's cold start),
then repeats the workload's operation until ``--seconds`` have passed and
at least the workload's ``min_ops`` operations are done, checking every
result against the goldens.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of one traced wrangle run between two untraced ones. The last
stdout line is the result object; the line before it records the
environment. Metric names, units and directions are in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_HEAP = "2g"

END_TO_END = {
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "setup_s": "s",
}
# Peak RSS does not repeat within a tenth between runs, so it is reported
# per process in the traced run instead of end to end.
PROCESSES = ("spark.jvm.peak_rss_mb", "spark.python_workers.peak_rss_mb")

# boundary -> counters beyond the common ones in trace.COUNTERS
BOUNDARIES = {
    "sources.osm.read_osm": ("rows", "partitions"),
    "sources.pbf.decode_pbf_bytes": ("elements",),
    "operators.audit": ("rows_out",),
    "operators.reshape.clean_tags": (),
    "operators.reshape.shape_elements": ("rows_out",),
    "sources.json_sink.write_store": ("bytes", "files"),
    "sources.json_sink.write_json": ("bytes", "files"),
    "operators.topk.store_queries": ("plan_s", "exec_s", "jobs"),
    "plans.pipeline.wrangle_maps": (
        "jobs", "raw_cached_fraction", "raw_cached_bytes", "cold_s",
        "residual_s", "trace_overhead_s", "store_bytes_per_input_byte"),
}
UNITS = {
    "s": "s", "plan_s": "s", "exec_s": "s", "cold_s": "s",
    "residual_s": "s", "trace_overhead_s": "s", "core_util": "ratio",
    "raw_cached_fraction": "ratio", "store_bytes_per_input_byte": "ratio",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "bytes": "bytes",
    "raw_cached_bytes": "bytes", "peak_rss_mb": "MB",
}
HIGHER_IS_BETTER = {"core_util", "raw_cached_fraction", "rows", "partitions",
                    "elements", "rows_out"}


def per_layer_names() -> list[str]:
    from perfbench.trace import COUNTERS

    return [f"{b}.{c}" for b, extra in BOUNDARIES.items()
            for c in COUNTERS + extra] + list(PROCESSES)


def unit_of(metric: str) -> str:
    if metric in END_TO_END:
        return END_TO_END[metric]
    return UNITS.get(metric.rsplit(".", 1)[1], "count")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS of the JVM and summed peak RSS of the Python workers."""
    out = dict.fromkeys(PROCESSES, 0.0)
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                kb = next(int(line.split()[1]) for line in f
                          if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        key = PROCESSES[0] if comm == "java" else PROCESSES[1]
        out[key] += kb / 1024
    return out


def start_session(work: str, cores: int):
    from data_wrangle_openstreetmaps_data_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    spark = get_spark("perfbench", extra_conf={
        "spark.driver.memory": JVM_HEAP,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark

        from perfbench import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench")
    cores = len(os.sched_getaffinity(0))
    manifest = workloads.corpus_for(wl, args.seed, work)

    t0 = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t0
    runner = workloads.Runner(spark, wl, manifest, workloads.Paths.under(work),
                              args.seed)
    try:
        cold_s = runner.setup()
        setup_s = time.perf_counter() - t0
        if args.trace:
            metrics, accounting = traced_metrics(runner, cores, cold_s, work,
                                                 args.seed)
        else:
            walls, start = [], time.perf_counter()
            while (len(walls) < wl.min_ops
                   or time.perf_counter() - start < args.seconds):
                walls += runner.operations()
            elapsed = time.perf_counter() - start
            ok = [w for w in walls if w is not None]
            if not ok:
                print("perfbench: every measured operation failed",
                      file=sys.stderr)
                return 1
            metrics = {"latency_p50_s": statistics.median(ok),
                       "ops_per_s": len(ok) / elapsed,
                       "setup_s": setup_s}
            accounting = {"operations": len(walls), "measured_s": elapsed}
        env = {
            "workload": wl.name, "seed": args.seed, "cores": cores,
            "spark": spark.version, "pyspark": pyspark.__version__,
            "jvm_heap": JVM_HEAP,
            "master": spark.sparkContext.master,
            "input_bytes": manifest["input_bytes"],
            "elements": manifest["elements"],
            "session_s": session_s, "cold_s": cold_s,
            "error_rate": len(runner.failed) / runner.attempted,
            "failed_checks": sorted(set(runner.failed)),
            **accounting,
        }
    finally:
        stop_session(spark)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": not runner.failed,
        "attempted": runner.attempted,
        "failed": len(runner.failed),
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in metrics.items()},
    }))
    return 0


def traced_metrics(runner, cores, cold_s, work, seed) -> tuple[dict, dict]:
    """The write-path wrangle (the workload's own on audit_pbf, the one with
    both sinks on query_mix) traced, between an untraced one that warms what
    set-up did not and an untraced one the trace overhead is measured
    against. Every per-layer metric, and the wall-time accounting."""
    from perfbench import workloads
    from perfbench.trace import Tracer

    spark, wl, manifest, out = (runner.spark, runner.wl, runner.manifest,
                                runner.out)
    sinks = runner.write_path_sinks()
    tracer = Tracer(spark, cores)
    with tracer.span("perfbench.untraced") as first:
        runner.wrangle(sinks)
    cached, partitions, cached_bytes = workloads.cached_rdds(spark)
    sink_bytes = (workloads.output_bytes(out.json)[0]
                  + workloads.output_bytes(out.store)[0]) if sinks else 0
    if wl.per_blob:
        workloads.decode_in_client(tracer, manifest)
    traced = runner.record(
        workloads.wrangle_checks(manifest, sinks),
        lambda: workloads.run_traced(spark, tracer, manifest, out, sinks))
    untraced = runner.wrangle(sinks)

    metrics = {}
    for boundary, extra in BOUNDARIES.items():
        values = tracer.layer(boundary)
        for counter in values.keys() | set(extra):
            metrics[f"{boundary}.{counter}"] = values.get(counter, 0)
    top = next(s for s in tracer.spans
               if s.name == "plans.pipeline.wrangle_maps")
    boundaries_s = sum(s.end - s.start for s in tracer.spans
                       if s.parent == top.sid)
    # time inside wrangle_maps that no child boundary covers: the driver
    # building the plans of the audits and queries, and reading the store
    residual_s = (top.end - top.start) - boundaries_s
    overhead_s = traced - untraced if traced and untraced else 0.0
    name = top.name
    metrics.update({
        f"{name}.jobs": len(spark.sparkContext.statusTracker()
                            .getJobIdsForGroup(first.group)),
        f"{name}.raw_cached_fraction": cached / partitions if partitions else 0,
        f"{name}.raw_cached_bytes": cached_bytes,
        f"{name}.cold_s": cold_s or 0.0,
        f"{name}.residual_s": residual_s,
        f"{name}.trace_overhead_s": overhead_s,
        f"{name}.store_bytes_per_input_byte":
            sink_bytes / manifest["input_bytes"],
    })
    metrics.update(peak_rss_mb())
    metrics["operators.topk.store_queries.jobs"] = sum(
        len(spark.sparkContext.statusTracker().getJobIdsForGroup(s.group))
        for s in tracer.spans if s.name == "operators.topk.store_queries")
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    tracer.dump(os.path.join(work, "traces", f"{wl.name}-{seed}.json"))
    # traced = boundaries + residual; untraced = traced - overhead
    accounting = {"untraced_wall_s": untraced, "traced_wall_s": traced,
                  "boundaries_s": boundaries_s, "residual_s": residual_s,
                  "trace_overhead_s": overhead_s}
    return {k: metrics[k] for k in per_layer_names()}, accounting


if __name__ == "__main__":
    sys.exit(main())
