"""The PBF route of ``osm.read_osm`` (``pbf.read_pbf``): one-file fan-out
across partitions, the task plan that packs blobs into one task per core
(``pbf.plan_tasks``), the blob index the driver builds, and loud failure on
malformed input — framing on the driver at the call, blob payloads at
the action. Row parity with the ``pbf.decode_pbf_bytes`` oracle is in
``tests/test_pbf_datasource.py``."""

from __future__ import annotations

import io
import os
import random
import shutil

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
    # one task per core, but no more tasks than blobs: the 3-blob file
    # spreads over 3 tasks on local[4] — the single-file parallelism claim
    assert spark.sparkContext.defaultParallelism == 4
    assert df.rdd.getNumPartitions() == 3
    ids = sorted(int(r["id"]) for r in df.collect())
    want = sorted(
        n["id"] + off * 10**9 for off in range(3) for n in NODES
    )
    assert ids == want


def test_blobs_of_several_files_share_tasks(spark, multi_blob_file, tmp_path):
    """Two 3-blob files on four cores: six blobs in four tasks, one of
    which decodes the end of one file and the start of the other."""
    paths = [shutil.copy(multi_blob_file, tmp_path / f"{c}.osm.pbf")
             for c in "ab"]
    sizes = []
    for path in paths:
        with open(path, "rb") as f:
            sizes += [ln for _, ln, t in pbf.iter_blobs(f) if t == "OSMData"]
    assert any(a < 3 < b for a, b in pbf.plan_tasks(sizes, 4))
    df = osm.read_osm(spark, str(tmp_path), KINDS)
    assert df.rdd.getNumPartitions() == 4
    want = sorted(str(n["id"] + off * 10**9)
                  for off in range(3) for n in NODES) * 2
    assert sorted(r["id"] for r in df.collect()) == sorted(want)


@pytest.mark.parametrize("sizes, n", [
    ([100] * 14, 4),                      # even blobs: 4, 4, 3, 3
    ([100] * 3, 3),                       # one blob per task
    ([7], 1),
    ([900, 10, 10, 10, 10, 900, 5], 3),   # uneven: bytes, not counts
    ([52, 98, 100, 51], 3),   # cuts nearest the targets: 52, 198, 51
    ([1, 1, 1, 1, 1, 1, 1, 1, 1000], 4),  # a huge last blob
])
def test_plan_tasks_packs_consecutive_blobs_evenly(sizes, n):
    runs = pbf.plan_tasks(sizes, n)
    _assert_even(sizes, n, runs)


def test_plan_tasks_on_random_sizes():
    rng = random.Random(7)
    for _ in range(500):
        sizes = [rng.choice((1, 50, 60, 4000, 65000))
                 for _ in range(rng.randint(1, 30))]
        n = rng.randint(1, len(sizes))
        _assert_even(sizes, n, pbf.plan_tasks(sizes, n))


def test_plan_tasks_without_blobs():
    assert pbf.plan_tasks([], 0) == []


def _assert_even(sizes, n, runs):
    # exactly n non-empty runs that take every blob once, in order
    assert len(runs) == n
    assert all(a < b for a, b in runs)
    assert [i for a, b in runs for i in range(a, b)] == list(range(len(sizes)))
    # the largest run exceeds the smallest by at most one blob
    bytes_ = [sum(sizes[a:b]) for a, b in runs]
    assert max(bytes_) - min(bytes_) <= max(sizes), (sizes, runs)


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
