"""The PBF route of ``osm.read_osm`` (``pbf.read_pbf``): one-file fan-out
across partitions, the blob index the driver builds, and loud failure on
malformed input — framing on the driver at the call, blob payloads at
the action. Row parity with the ``pbf.decode_pbf_bytes`` oracle is in
``tests/test_pbf_datasource.py``."""

from __future__ import annotations

import io
import os

import pytest

from data_wrangle_openstreetmaps_data_spark.sources import osm, pbf
from tests.pbf_encoder import encode_pbf
from tests.test_pbf import NODES, RELATIONS, WAYS

TMP = os.path.join(os.path.dirname(__file__), "..", ".tmp")
KINDS = ("node", "way", "relation")


def _write(name: str, data: bytes) -> str:
    os.makedirs(TMP, exist_ok=True)
    path = os.path.join(TMP, name)
    with open(path, "wb") as f:
        f.write(data)
    return path


@pytest.fixture(scope="module")
def single_blob_file():
    return _write("ds_fixture.osm.pbf", encode_pbf(NODES, WAYS, RELATIONS))


@pytest.fixture(scope="module")
def multi_blob_file():
    # three concatenated (header+data) segments = three OSMData blobs in
    # ONE file — the planet.pbf shape a per-file reader can't split
    return _write("ds_multi.osm.pbf", b"".join(
        encode_pbf([dict(n, id=n["id"] + off * 10**9) for n in NODES], [], [])
        for off in range(3)
    ))


def test_iter_blobs_offsets_tile_the_file(single_blob_file):
    with open(single_blob_file, "rb") as f:
        blobs = list(pbf.iter_blobs(f))
        f.seek(0)
        data = f.read()
    assert [t for _, _, t in blobs].count("OSMData") >= 1
    # re-read every indexed OSMData range and decode: the same rows as
    # the whole-file decoder
    rows = []
    for off, ln, t in blobs:
        if t != "OSMData":
            continue
        cols = pbf.decode_block(pbf.decode_blob(data[off : off + ln]))
        rows += [dict(zip(cols, row)) for row in zip(*cols.values())]
    assert rows == pbf.decode_pbf_bytes(data)


def test_one_file_fans_out_across_partitions(spark, multi_blob_file):
    df = osm.read_osm(spark, multi_blob_file)
    # BLOBS_PER_TASK OSMData blobs per task, so one 3-blob file spreads
    # over 2 tasks — the single-file parallelism claim
    assert pbf.BLOBS_PER_TASK == 2
    assert df.rdd.getNumPartitions() == 2
    ids = sorted(int(r["id"]) for r in df.collect())
    want = sorted(
        n["id"] + off * 10**9 for off in range(3) for n in NODES
    )
    assert ids == want


def test_trailing_bytes_raise_at_the_call(spark):
    """Bytes after the last blob fail the driver's blob index, so
    ``read_osm`` itself raises before any job runs."""
    path = _write("ds_trailing.osm.pbf", encode_pbf(NODES) + b"\x00\x00")
    with pytest.raises(ValueError, match="truncated PBF"):
        osm.read_osm(spark, path)


def test_unsupported_compression_fails_the_action(spark):
    """An lzma blob indexes fine and fails the read that decodes it; it
    never decodes to fewer rows."""
    path = _write("ds_lzma.osm.pbf", encode_pbf(NODES, data_field=4))
    df = osm.read_osm(spark, path)
    with pytest.raises(Exception,
                       match="unsupported PBF blob compression: field 4"):
        df.collect()


def test_corrupt_zlib_payload_raises(spark):
    """Flipped bytes inside an OSMData blob's zlib_data fail both the
    pure decoder and the ``read_osm`` action; neither returns fewer
    rows."""
    data = bytearray(encode_pbf(NODES, WAYS, RELATIONS))
    off, ln = next(
        (off, ln)
        for off, ln, btype in pbf.iter_blobs(io.BytesIO(bytes(data)))
        if btype == "OSMData"
    )
    # the Blob is raw_size then zlib_data, so its second half is all
    # compressed payload
    mid = off + ln // 2
    data[mid : mid + 4] = bytes(b ^ 0xFF for b in data[mid : mid + 4])
    with pytest.raises(ValueError, match="corrupt PBF zlib payload"):
        pbf.decode_pbf_bytes(bytes(data))
    df = osm.read_osm(spark, _write("ds_bad_zlib.osm.pbf", bytes(data)))
    with pytest.raises(Exception, match="corrupt PBF zlib payload"):
        df.collect()
