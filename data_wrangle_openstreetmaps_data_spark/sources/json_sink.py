"""JSON-lines sink (SURVEY.md §2.1 S4) + parquet store (S5).

The reference writes one JSON object per line with json.dumps
(reshape_data, openstreet_kolkata.py:565-584) and then row-at-a-time
inserts into MongoDB (insert_maps, :587-593). Spark-side:

- ``write_json``: ``df.write.json`` — each task writes its partition
  directly; Spark's JSON writer omits null fields, matching the
  reference's "only attach keys when non-empty" document shape (R7).
- ``write_store``: parquet is the idiomatic analytical store standing in
  for the MongoDB collection; a partitionBy on element type mirrors the
  type-filtered access pattern of every downstream query.
- ``read_store``: the reference queries one collection that stays open
  (query_data, :596-655). Opening a parquet store lists its files and
  infers its schema from a footer, so a session keeps one open handle
  per store path and reuses it.

Freshness contract: a store is a Spark-committed directory, one whose
root holds the ``_SUCCESS`` marker a Spark write leaves. Every
``read_store`` call revalidates the session's handle against one
listing of the store root (entry names, modification times, lengths,
``_SUCCESS`` included) and reopens the store on any difference, so a
rewrite through Spark, here or in another process, is seen by the next
call. ``write_store`` and ``compact_store`` drop the handles of their
path before they write. A root without ``_SUCCESS`` gets no handle and
is opened fresh on every call: a writer outside Spark must leave
``_SUCCESS`` when it is done, or its store is never cached, and it must
not rewrite a file in place under a partition directory, which the root
listing cannot see.
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_json(df: DataFrame, path: str, mode: str = "overwrite",
               pretty: bool = False) -> None:
    """JSON output. ``pretty=True`` mirrors the reference's
    ``reshape_data(pretty=True)`` (openstreet_kolkata.py:576-579,
    ``json.dumps(elem, indent=2)`` per element): indented multi-line
    objects written back to back — a human-inspection format, not the
    machine path. Implemented with ``to_json``'s Jackson pretty printer,
    still fully distributed (each task writes its partition as text);
    null fields are omitted in both modes (R7)."""
    if not pretty:
        df.write.mode(mode).option("ignoreNullFields", "true").json(path)
        return
    out = df.select(
        F.to_json(F.struct(*df.columns), {"pretty": "true"}).alias("value")
    )
    out.write.mode(mode).text(path)


def read_json(spark: SparkSession, path: str, pretty: bool = False) -> DataFrame:
    """Readback. ``pretty=True`` parses the concatenated indented-object
    format: a record starts at every column-0 ``{`` (the writer indents
    all nested openings, and a record-final ``}`` — including the
    single-line ``{ }`` an all-null record collapses to — always ends
    its line), so splitting at each newline followed by a column-0 ``{``
    is unambiguous. Fixture/inspection-scale path — the scale format is
    JSON-lines (``pretty=False``)."""
    if not pretty:
        return spark.read.json(path)
    whole = spark.read.text(path, wholetext=True)
    objs = (
        whole.select(
            F.explode(F.split("value", r"\n(?=\{)")).alias("value")
        )
        .filter(F.trim("value") != "")
    )
    return spark.read.json(objs.rdd.map(lambda r: r.value))


@dataclass(frozen=True)
class _Handle:
    """An open store: the Hadoop path and file system of its root, the
    root's commit state when it was opened, and the opened frame."""

    root: object
    fs: object
    state: tuple
    df: DataFrame


# store path -> session -> handle. A stopped session's handles stay
# here, unreachable, until their path is written again.
_HANDLES: dict[str, dict[SparkSession, _Handle]] = {}


def _commit_state(fs, root) -> tuple | None:
    """(name, modification time, length) of every entry of the store
    root, or None when the root cannot be listed or has no ``_SUCCESS``
    (an uncommitted store, which is never cached)."""
    try:
        statuses = fs.listStatus(root)
    except Py4JJavaError:
        return None
    state = tuple(sorted(
        (s.getPath().getName(), s.getModificationTime(), s.getLen())
        for s in statuses
    ))
    return state if any(e[0] == "_SUCCESS" for e in state) else None


def write_store(df: DataFrame, path: str, partition_by: str | None = "type",
                mode: str = "overwrite") -> None:
    _HANDLES.pop(path, None)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """The store at ``path`` as this session's open handle. The handle is
    reused while one listing of the store root (entry names, modification
    times, lengths, ``_SUCCESS`` included) matches the listing taken when
    it was opened; on any difference the store is reopened and the
    handle replaced. A root without ``_SUCCESS`` is opened fresh on every
    call. The root is listed before the store is opened, so a write that
    lands between the two makes the next call reopen, never serve the
    older files."""
    sessions = _HANDLES.setdefault(path, {})
    handle = sessions.get(spark)
    if handle is None:
        root = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    else:
        root, fs = handle.root, handle.fs
    state = _commit_state(fs, root)
    if handle is not None and state == handle.state:
        return handle.df
    df = spark.read.parquet(path)
    if state is None:
        sessions.pop(spark, None)
    else:
        sessions[spark] = _Handle(root, fs, state, df)
    return df


def read_store_merged(spark: SparkSession, path: str) -> DataFrame:
    """Read a store whose files were written under EVOLVED schemas
    (columns added over time): ``mergeSchema`` unions the per-file
    footers, older files surface the new columns as NULL. The default
    ``read_store`` skips the footer union (cheaper) — use this one when
    appends may carry new columns. It is opened, and its footers merged,
    on every call: no handle is kept."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def compact_store(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> dict[str, int]:
    """Small-files compaction: rewrite a (non-partitioned) parquet store
    into ceil(rows / target) files and swap directories — the
    maintenance job that keeps scan task counts sane after many
    incremental appends (thousands of KB-sized files turn a 100 TB scan
    into a scheduler problem before an IO one). Returns before/after
    file counts. Content is preserved exactly; compaction only changes
    layout — callers needing ordered layout should Z-order/sort first
    (see q_zorder_layout).

    NOT atomic: the swap is two ``os.rename`` calls (local filesystems
    have no directory-exchange primitive), so there is a window in
    which ``path`` does not exist — readers must not run concurrently
    with compaction. A crash between the renames strands the data in
    ``<path>_precompact``; this function recovers such a leftover on
    entry (rename back) before compacting, so re-running after a crash
    is always safe."""
    import math
    import os
    import shutil

    def _nfiles(p: str) -> int:
        return sum(
            1
            for root, _, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )

    # crash recovery: a previous run that died between the two renames
    # left the store under _precompact and no live path — restore it.
    # A leftover _compacting dir is always a discardable partial write.
    tmp = path.rstrip("/") + "_compacting"
    old = path.rstrip("/") + "_precompact"
    _HANDLES.pop(path, None)
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)

    # a hive-partitioned store (key=value subdirs) would silently lose
    # its physical partitioning in a flat rewrite — refuse, compaction of
    # partitioned stores belongs per-partition
    for root, dirs, _ in os.walk(path):
        for d in dirs:
            if "=" in d:
                raise ValueError(
                    f"store at {path} is hive-partitioned ({d}); "
                    "compact each partition directory instead"
                )
    before = _nfiles(path)
    df = spark.read.parquet(path)
    n = df.count()
    n_out = max(1, math.ceil(n / target_rows_per_file))
    df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return {"files_before": before, "files_after": _nfiles(path), "rows": n}


def read_json_robust(
    spark: SparkSession,
    path: str,
    schema,
    corrupt_col: str = "_corrupt_record",
):
    """Ingest-resilient JSON-lines read (PERMISSIVE): malformed lines do
    NOT fail the job — they land whole in ``corrupt_col`` with every
    schema field NULL, so the pipeline can split the feed into a clean
    frame and a quarantine frame and keep going. Real crawls and export
    dumps always contain some breakage; failing a 100 TB job on line
    3 billion is not an option (the strict path is FAILFAST mode).

    Returns (clean_df, corrupt_df): clean rows without the marker
    column, corrupt raw lines with a reason-free quarantine contract."""
    from pyspark.sql import types as T

    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
    # Spark requires caching/materialization before filtering on the
    # corrupt-record column alone (SPARK-21610 contract)
    df = df.cache()
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    corrupt = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    # materialize the split off the cached parse, then RELEASE the
    # cache: a catalog cache entry lives until an explicit unpersist,
    # so repeated ingest calls would otherwise accumulate cached parses
    # for the session lifetime. localCheckpoint blocks are owned by the
    # returned frames (the ContextCleaner frees them when the frames
    # are GC'd) and still satisfy the corrupt-column-only filter
    # (execution reads the checkpoint, not the JSON source).
    clean = clean.localCheckpoint(eager=True)
    corrupt = corrupt.localCheckpoint(eager=True)
    df.unpersist()
    return clean, corrupt
