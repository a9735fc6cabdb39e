"""OSM PBF as a Spark 4 Python DataSource (``spark.read.format("osmpbf")``).

PBF is a sequence of independently-decodable blobs, so the Spark shape
is a custom source whose ``partitions()`` is a driver-side INDEX PASS
over blob framing (``pbf.walk_blobs``: seek + 4-byte length + BlobHeader
per blob — no payload bytes are read, a few KB of I/O per ~8 MB blob)
and whose ``read()`` decodes only its own blob ranges executor-side
(``pbf.decode_blob``). One planet-sized file fans out across every
executor instead of landing in one task.

Reference parity: the reference streams one element at a time through
SAX (openstreet_kolkata.py:60,90) and never parallelizes one file; this
source keeps its semantics at cluster scale. Its schema is
``osm.RAW_SCHEMA``, the XML route's, and both readers (batch: one Arrow
RecordBatch per blob; stream: rows) emit what ``pbf.decode_block``
decodes, the same block decoder ``pbf.decode_pbf_bytes`` uses.

Environment note: the index pass and partition reads open paths through
plain ``open()`` — local/NFS paths (this environment). A production
deployment swaps ``_open`` for the Hadoop-FS/fsspec opener; the
partition planning logic is unchanged.
"""

from __future__ import annotations

import glob as _glob
from dataclasses import dataclass
from itertools import islice, takewhile

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from data_wrangle_openstreetmaps_data_spark.sources.osm import RAW_SCHEMA
from data_wrangle_openstreetmaps_data_spark.sources.pbf import (
    BlobRange,
    decode_blob,
    decode_block,
    iter_blobs,
    walk_blobs,
)


# Blobs per read task. 2, not 4: with Arrow-batch emission a blob
# decode is pure CPU, so finer tasks win slots — warm A/B on the 560k
# bench corpus: per=2 1.3s, per=4 1.6s full-scan wall.
BLOBS_PER_TASK = 2


def _open(path: str):
    return open(path, "rb")


def index_blobs(path: str) -> list[BlobRange]:
    """(offset, length, type) of every blob of one whole file: O(#blobs)
    small reads, no payload bytes. A truncated tail raises."""
    with _open(path) as f:
        return list(iter_blobs(f))


@dataclass
class PbfBlobsPartition(InputPartition):
    path: str
    ranges: tuple[tuple[int, int], ...]  # (offset, length) per blob


class OsmPbfReader(DataSourceReader):
    def __init__(self, options: dict):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("osmpbf: .load(path) is required")

    def partitions(self) -> list[PbfBlobsPartition]:
        paths = sorted(_glob.glob(self._path)) or [self._path]
        parts: list[PbfBlobsPartition] = []
        for p in paths:
            data_ranges = [
                (off, ln)
                for off, ln, btype in index_blobs(p)
                if btype == "OSMData"
            ]
            for i in range(0, len(data_ranges), BLOBS_PER_TASK):
                parts.append(
                    PbfBlobsPartition(
                        p, tuple(data_ranges[i : i + BLOBS_PER_TASK])
                    )
                )
        return parts

    def read(self, partition: PbfBlobsPartition):
        """Yield ONE Arrow RecordBatch per blob (Spark 4's vectorized
        DataSource ingest). The row-at-a-time tuple path this replaces
        pickled 560k individual rows through the Python worker —
        measured as the whole 2× pipeline gap vs the JVM XML route;
        columnar hand-off makes decode cost ≈ the profiled kernel."""
        import pyarrow as pa

        schema = to_arrow_schema(RAW_SCHEMA)
        with _open(partition.path) as f:
            for off, ln in partition.ranges:
                f.seek(off)
                cols = decode_block(decode_blob(f.read(ln)))
                if cols["id"]:
                    yield pa.RecordBatch.from_pydict(cols, schema=schema)


class OsmPbfStreamReader(SimpleDataSourceStreamReader):
    """Streaming PBF ingest: the file is an append-only blob log (the
    OSM replication-feed shape). Offsets are byte positions of the last
    fully framed blob, so a half-appended blob is invisible until its
    bytes complete, each micro-batch decodes only the new blobs, and
    `readBetweenOffsets` replays any committed range bit-for-bit on
    recovery — exactly-once composition with the checkpoint, proven in
    tests/test_pbf_datasource.py by appending a batch and re-draining
    against the same checkpoint."""

    def __init__(self, options: dict):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("osmpbf: .load(path) is required")
        # Backpressure: a Simple stream reader decodes on the DRIVER, so
        # starting from {pos: 0} against a large pre-existing file would
        # otherwise materialize the whole backlog in ONE micro-batch
        # (r10 advice). Cap the blobs consumed per trigger; the offset
        # returned is the end of the LAST blob kept, so the remaining
        # backlog arrives over subsequent triggers with exactly-once
        # semantics unchanged (readBetweenOffsets replays committed
        # ranges bit-for-bit regardless of how they were batched).
        self._max_blobs = int(options.get("maxblobspertrigger", "64"))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def _rows(self, blobs) -> list[tuple]:
        out: list[tuple] = []
        with _open(self._path) as f:
            for off, ln, btype in blobs:
                if btype != "OSMData":
                    continue
                f.seek(off)
                cols = decode_block(decode_blob(f.read(ln)))
                out += zip(*cols.values())
        return out

    def read(self, start: dict):
        cap = self._max_blobs if self._max_blobs > 0 else None
        with _open(self._path) as f:
            blobs = list(islice(walk_blobs(f, start["pos"]), cap))
        next_pos = blobs[-1][0] + blobs[-1][1] if blobs else start["pos"]
        return iter(self._rows(blobs)), {"pos": next_pos}

    def readBetweenOffsets(self, start: dict, end: dict):
        with _open(self._path) as f:
            blobs = list(takewhile(lambda b: b[0] < end["pos"],
                                   walk_blobs(f, start["pos"])))
        return iter(self._rows(blobs))


class OsmPbfDataSource(DataSource):
    """``spark.dataSource.register(OsmPbfDataSource)`` then
    ``spark.read.format("osmpbf").load(path)`` (batch, blob fan-out)
    or ``spark.readStream.format("osmpbf").load(path)`` (append-only
    blob-log streaming)."""

    @classmethod
    def name(cls) -> str:
        return "osmpbf"

    def schema(self) -> StructType:
        return RAW_SCHEMA

    def reader(self, schema) -> OsmPbfReader:
        return OsmPbfReader(self.options)

    def simpleStreamReader(self, schema) -> OsmPbfStreamReader:
        return OsmPbfStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(OsmPbfDataSource)
