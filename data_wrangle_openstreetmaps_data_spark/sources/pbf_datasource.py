"""OSM PBF as a Spark 4 Python DataSource (``spark.read.format("osmpbf")``).

PBF is a sequence of independently-decodable blobs, so the Spark shape
is a custom source whose ``partitions()`` is a driver-side INDEX PASS
over blob framing (``pbf.iter_blobs``: seek + 4-byte length + BlobHeader
per blob — no payload bytes are read, a few KB of I/O per ~8 MB blob)
and whose ``read()`` decodes only its own blob ranges executor-side
(``pbf.decode_blob``). One planet-sized file fans out across every
executor instead of landing in one task.

Reference parity: the reference streams one element at a time through
SAX (openstreet_kolkata.py:60,90) and never parallelizes one file; this
source keeps its semantics at cluster scale. Its schema is
``osm.RAW_SCHEMA``, the XML route's, and its reader emits one Arrow
RecordBatch per blob of what ``pbf.decode_block`` decodes, the same
block decoder ``pbf.decode_pbf_bytes`` uses.

The source reads the files it is given (``.load(file)`` or
``.load([files])``) and expands no globs or directories: ``osm.read_osm``
resolves an input to its files once, on the driver, and loads that list.

Environment note: the index pass and partition reads open paths through
plain ``open()`` — local/NFS paths (this environment). A production
deployment swaps ``_open`` for the Hadoop-FS/fsspec opener; the
partition planning logic is unchanged.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from data_wrangle_openstreetmaps_data_spark.sources.osm import RAW_SCHEMA
from data_wrangle_openstreetmaps_data_spark.sources.pbf import (
    BlobRange,
    decode_blob,
    decode_block,
    iter_blobs,
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
        # Spark passes one loaded path as ``path``, several as ``paths``
        # (a JSON list)
        paths = options.get("paths")
        self._paths = json.loads(paths) if paths else [options.get("path")]
        if not all(self._paths):
            raise ValueError("osmpbf: .load(path) is required")

    def partitions(self) -> list[PbfBlobsPartition]:
        parts: list[PbfBlobsPartition] = []
        for p in self._paths:
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


class OsmPbfDataSource(DataSource):
    """``spark.dataSource.register(OsmPbfDataSource)`` then
    ``spark.read.format("osmpbf").load(files)``: a batch read that fans
    each file out by blob."""

    @classmethod
    def name(cls) -> str:
        return "osmpbf"

    def schema(self) -> StructType:
        return RAW_SCHEMA

    def reader(self, schema) -> OsmPbfReader:
        return OsmPbfReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(OsmPbfDataSource)
