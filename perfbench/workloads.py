"""The benchmark's workloads and their checked operations.

``audit_pbf``'s operation is one call of the engine's ``wrangle_maps``
with no sinks over one ``.osm.pbf``, followed by collecting every audit
it returns: the reference's audit (profiling) pass. ``query_mix``'s set-up
reshapes sharded XML and writes the parquet store once, as
``wrangle_maps`` does; its operation is then one of the reference's five
store queries, composed
by the client as ``wrangle_maps`` composes them, in an order shuffled by
the seed. The traced run of ``query_mix`` times the write path: the full
``wrangle_maps`` with both sinks. Every collected result and every sink
output is checked against the corpus goldens.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from data_wrangle_openstreetmaps_data_spark.operators import audit, reshape
from data_wrangle_openstreetmaps_data_spark.operators.topk import topk_group_count
from data_wrangle_openstreetmaps_data_spark.plans import pipeline
from data_wrangle_openstreetmaps_data_spark.sources import json_sink, osm, pbf

from perfbench import corpus
from perfbench.trace import Tracer, patched


@dataclass(frozen=True)
class Workload:
    name: str
    n_nodes: int
    n_ways: int
    shards: int  # > 0: sharded XML input
    per_blob: int  # > 0: one .osm.pbf input
    queries: bool  # the operation is a store query, not an audit wrangle
    min_ops: int  # operations measured per run, however long they take


# On 4 cores a warm audit wrangle takes about 10 s and a cold one about
# 28 s, mostly driver-side query planning that does not grow with the
# corpus; three warm wrangles per run keep a run near a minute.
WORKLOADS = {
    "audit_pbf": Workload("audit_pbf", 60_000, 9_000, 0, 5_000, False, 3),
    "query_mix": Workload("query_mix", 16_000, 3_000, 4, 0, True, 5),
}

SINKS = ("sink.json_rows", "sink.store_rows")


def _store_queries(docs):
    """The five queries ``wrangle_maps`` runs on the store, by name."""
    tags = F.col("tags")
    return {
        "unique_users": lambda: audit.distinct_count(docs, "created.user"),
        "type_counts": lambda: docs.groupBy("type").agg(
            F.count(F.lit(1)).alias("cnt")),
        "amenity_counts": lambda: docs.groupBy(
            tags.getItem("amenity").alias("amenity")).agg(
            F.count(F.lit(1)).alias("cnt")),
        "top_shops": lambda: topk_group_count(
            docs.filter(F.col("type") == "node").select(
                tags.getItem("shop").alias("shop")),
            "shop", k=10, require_col="shop"),
        "top_highways": lambda: topk_group_count(
            docs.filter(F.col("type") == "way").select(
                tags.getItem("highway").alias("highway")),
            "highway", k=10, require_col="highway"),
    }


QUERIES = ("unique_users", "type_counts", "amenity_counts", "top_shops",
           "top_highways")


@dataclass(frozen=True)
class Paths:
    json: str
    store: str

    @classmethod
    def under(cls, work: str) -> "Paths":
        return cls(os.path.join(work, "out", "docs_json"),
                   os.path.join(work, "out", "docs_store"))


def corpus_for(wl: Workload, seed: int, work: str) -> dict:
    directory = os.path.join(
        work, "corpus", f"{wl.name}-{seed}-{wl.n_nodes}-{wl.n_ways}")
    return corpus.build(directory, seed, wl.n_nodes, wl.n_ways,
                        shards=wl.shards, per_blob=wl.per_blob)


def call_wrangle(spark, manifest: dict, out: Paths, sinks: tuple):
    return pipeline.wrangle_maps(
        spark, manifest["source"],
        out_json=out.json if "sink.json_rows" in sinks else None,
        out_store=out.store if "sink.store_rows" in sinks else None)


def wrangle_checks(manifest: dict, sinks: tuple) -> list[str]:
    """Checks of a wrangle: every audit, and every query and sink if the
    sinks are written."""
    return [k for k in manifest["goldens"]
            if sinks or k.startswith("audit.")] + list(sinks)


def run_wrangle(spark, manifest: dict, out: Paths, sinks: tuple):
    """One untraced wrangle: (wall seconds, collected rows by name)."""
    t0 = time.perf_counter()
    res = call_wrangle(spark, manifest, out, sinks)
    rows = {f"audit.{k}": df.collect() for k, df in res.audits.items()}
    if sinks:
        rows.update({f"query.{k}": df.collect()
                     for k, df in res.queries.items()})
    return time.perf_counter() - t0, rows


def build_store(spark, manifest: dict, out: Paths):
    """The store the queries read, reshaped and written as ``wrangle_maps``
    does it: (wall seconds, no rows)."""
    t0 = time.perf_counter()
    docs = reshape.shape_elements(osm.read_osm(spark, manifest["source"]),
                                  clean=True)
    json_sink.write_store(docs, out.store)
    return time.perf_counter() - t0, {}


def run_query(spark, name: str, out: Paths):
    """One store query as a client issues it: read the store, compose the
    query, collect. (wall seconds, collected rows by name)."""
    t0 = time.perf_counter()
    docs = json_sink.read_store(spark, out.store)
    rows = _store_queries(docs)[name]().collect()
    return time.perf_counter() - t0, {f"query.{name}": rows}


def data_files(path: str) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, files in os.walk(path)
                  for f in files if f.startswith("part-"))


def check(manifest: dict, rows: dict, expected: list[str],
          out: Paths | None) -> list[str]:
    """Names of the checks that failed; an unexpected result fails too."""
    goldens = manifest["goldens"]
    failed = [k for k in expected
              if k in goldens and corpus.fingerprint(rows.get(k, [])) != goldens[k]]
    failed += [k for k in rows if k not in expected]
    if "sink.json_rows" in expected:
        json_rows = 0
        for p in data_files(out.json):
            with open(p, "rb") as f:
                json_rows += sum(1 for _ in f)
        if json_rows != manifest["elements"]:
            failed.append("sink.json_rows")
    if "sink.store_rows" in expected:
        store_rows = sum(pq.read_metadata(p).num_rows
                         for p in data_files(out.store))
        if store_rows != manifest["elements"]:
            failed.append("sink.store_rows")
    return failed


class Runner:
    """One workload's operations on one session, each checked: every check
    of every operation, set-up's included, is counted."""

    def __init__(self, spark, wl: Workload, manifest: dict, out: Paths,
                 seed: int):
        self.spark, self.wl, self.manifest, self.out = spark, wl, manifest, out
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed: list[str] = []

    def record(self, expected: list[str], run):
        """Run one operation, check its results; its wall time or None.
        The previous operation's cache is dropped first, untimed."""
        self.spark.catalog.clearCache()
        try:
            wall, rows = run()
        except Exception:  # a failed operation fails all its checks
            traceback.print_exc()
            bad = list(expected)
            wall = None
        else:
            bad = check(self.manifest, rows, expected, self.out)
        self.attempted += len(expected)
        self.failed += bad
        for name in bad:
            print(f"perfbench: wrong result: {name}", file=sys.stderr)
        return wall

    def wrangle(self, sinks: tuple):
        return self.record(
            wrangle_checks(self.manifest, sinks),
            lambda: run_wrangle(self.spark, self.manifest, self.out, sinks))

    def query(self, name: str):
        return self.record([f"query.{name}"],
                           lambda: run_query(self.spark, name, self.out))

    def setup(self):
        """The untimed warm-up: a cold audit wrangle, or writing the store
        and one pass of the queries. The cold wrangle's or the store
        write's wall time, or None."""
        if not self.wl.queries:
            return self.wrangle(())
        cold = self.record([SINKS[1]], lambda: build_store(
            self.spark, self.manifest, self.out))
        self.operations()
        return cold

    def operations(self) -> list:
        """Wall times of the next operations: one audit wrangle, or the
        five store queries in a seeded order."""
        if not self.wl.queries:
            return [self.wrangle(())]
        return [self.query(q) for q in self.rng.sample(QUERIES, len(QUERIES))]

    def write_path_sinks(self) -> tuple:
        """The sinks of the wrangle the traced run times."""
        return SINKS if self.wl.queries else ()


def output_bytes(path: str) -> tuple[int, int]:
    files = data_files(path)
    return sum(os.path.getsize(p) for p in files), len(files)


def cached_rdds(spark) -> tuple[int, int, int]:
    """(cached partitions, partitions, cached bytes) over cached RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return (sum(i.numCachedPartitions() for i in infos),
            sum(i.numPartitions() for i in infos),
            sum(i.memSize() + i.diskSize() for i in infos))


def decode_in_client(tracer: Tracer, manifest: dict) -> None:
    """The PBF decode kernel alone, single-threaded in this process."""
    with open(manifest["source"], "rb") as f:
        data = f.read()
    with tracer.span("sources.pbf.decode_pbf_bytes") as s:
        s.counts["elements"] = len(pbf.decode_pbf_bytes(data))


def run_traced(spark, tracer: Tracer, manifest: dict, out: Paths,
               sinks: tuple):
    """One wrangle with a span per layer and each layer's work forced
    inside its span: ingest is cached and counted before the audits, and
    the reshape is evaluated once into a no-op sink before the real sinks.
    Returns (traced wall seconds, collected rows by name)."""

    def force_ingest(df, span):
        df = df.cache()
        span.counts["rows"] = df.count()
        span.counts["partitions"] = cached_rdds(spark)[1]
        return df

    def force_reshape(df, span):
        obs = Observation("perfbench_reshape")
        (df.observe(obs, F.count(F.lit(1)).alias("rows"))
           .write.format("noop").mode("overwrite").save())
        span.counts["rows_out"] = obs.get["rows"]
        return df

    targets = [
        (osm, "read_osm", "sources.osm.read_osm", force_ingest),
        (pipeline, "shape_elements", "operators.reshape.shape_elements",
         force_reshape if sinks else None),
        (reshape, "clean_tags", "operators.reshape.clean_tags", None),
        (json_sink, "write_json", "sources.json_sink.write_json", None),
        (json_sink, "write_store", "sources.json_sink.write_store", None),
    ]
    rows: dict = {}
    with patched(tracer, targets), \
            tracer.span("plans.pipeline.wrangle_maps") as top:
        res = call_wrangle(spark, manifest, out, sinks)
        pre = {k: v for k, v in res.audits.items()
               if not k.endswith("_after_clean")}
        with tracer.span("operators.audit") as s:
            rows.update({f"audit.{k}": df.collect() for k, df in pre.items()})
            s.counts["rows_out"] = sum(len(v) for v in rows.values())
        with tracer.span("operators.reshape.clean_tags"):
            rows.update({f"audit.{k}": df.collect()
                         for k, df in res.audits.items() if k not in pre})
        if sinks:
            with tracer.span("operators.topk.store_queries") as s:
                plan_s = exec_s = 0.0
                for k, df in res.queries.items():
                    t = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    plan_s += time.perf_counter() - t
                    t = time.perf_counter()
                    rows[f"query.{k}"] = df.collect()
                    exec_s += time.perf_counter() - t
                s.counts.update(plan_s=plan_s, exec_s=exec_s)
    for s in tracer.spans:
        if s.name == "sources.json_sink.write_json":
            s.counts["bytes"], s.counts["files"] = output_bytes(out.json)
        elif s.name == "sources.json_sink.write_store":
            s.counts["bytes"], s.counts["files"] = output_bytes(out.store)
    return top.end - top.start, rows
