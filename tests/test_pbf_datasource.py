"""osmpbf Python DataSource (sources/pbf_datasource.py), the engine's one
PBF reader: blob-index partition planning, row parity with the
pure-Python ``pbf.decode_pbf_bytes`` oracle, loud failure on malformed
input, one-file fan-out across partitions, and ``osm.read_osm``'s routing
of PBF inputs to it."""

from __future__ import annotations

import io
import os

import pytest

from data_wrangle_openstreetmaps_data_spark.sources import pbf, pbf_datasource
from tests.pbf_encoder import encode_pbf
from tests.test_pbf import NODES, RELATIONS, WAYS

TMP = os.path.join(os.path.dirname(__file__), "..", ".tmp")


@pytest.fixture(scope="module")
def single_blob_file():
    os.makedirs(TMP, exist_ok=True)
    path = os.path.join(TMP, "ds_fixture.osm.pbf")
    with open(path, "wb") as f:
        f.write(encode_pbf(NODES, WAYS, RELATIONS))
    return path


@pytest.fixture(scope="module")
def multi_blob_file():
    # three concatenated (header+data) segments = three OSMData blobs in
    # ONE file — the planet.pbf shape a per-file reader can't split
    os.makedirs(TMP, exist_ok=True)
    path = os.path.join(TMP, "ds_multi.osm.pbf")
    batches = [
        [dict(n, id=n["id"] + off * 10**9) for n in NODES]
        for off in range(3)
    ]
    with open(path, "wb") as f:
        for b in batches:
            f.write(encode_pbf(b, [], []))
    return path


def test_index_blobs_walks_framing(single_blob_file):
    blobs = pbf_datasource.index_blobs(single_blob_file)
    types = [t for _, _, t in blobs]
    assert types.count("OSMData") >= 1
    # offsets must tile the file: re-read every indexed range and decode
    with open(single_blob_file, "rb") as f:
        data = f.read()
    rows = []
    for off, ln, t in blobs:
        if t != "OSMData":
            continue
        cols = pbf.decode_block(pbf.decode_blob(data[off : off + ln]))
        rows += [dict(zip(cols, row)) for row in zip(*cols.values())]
    whole = pbf.decode_pbf_bytes(data)
    assert rows == whole


def test_datasource_parity_with_pure_decoder(spark, single_blob_file):
    pbf_datasource.register(spark)
    ds = (
        spark.read.format("osmpbf")
        .load(single_blob_file)
        .orderBy("type", "id")
        .collect()
    )
    with open(single_blob_file, "rb") as f:
        ref = sorted(pbf.decode_pbf_bytes(f.read()),
                     key=lambda e: (e["type"], e["id"]))
    assert [r.asDict(recursive=True) for r in ds] == ref


def test_datasource_rejects_malformed_pbf(spark):
    """Trailing bytes after the last blob fail partition planning, and an
    unsupported blob compression fails the read — neither decodes to
    fewer rows."""
    pbf_datasource.register(spark)
    os.makedirs(TMP, exist_ok=True)
    cases = {
        "ds_trailing.osm.pbf": (encode_pbf(NODES) + b"\x00\x00",
                                "truncated PBF"),
        "ds_lzma.osm.pbf": (encode_pbf(NODES, data_field=4),
                            "unsupported PBF blob compression: field 4"),
    }
    for name, (data, error) in cases.items():
        path = os.path.join(TMP, name)
        with open(path, "wb") as f:
            f.write(data)
        with pytest.raises(Exception, match=error):
            spark.read.format("osmpbf").load(path).collect()


def test_corrupt_zlib_payload_raises(spark):
    """Flipped bytes inside an OSMData blob's zlib_data fail both the
    pure decoder and the DataSource read; neither returns fewer rows."""
    pbf_datasource.register(spark)
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
    path = os.path.join(TMP, "ds_bad_zlib.osm.pbf")
    with open(path, "wb") as f:
        f.write(data)
    with pytest.raises(Exception, match="corrupt PBF zlib payload"):
        spark.read.format("osmpbf").load(path).collect()


def test_one_file_fans_out_across_partitions(spark, multi_blob_file):
    pbf_datasource.register(spark)
    df = spark.read.format("osmpbf").load(multi_blob_file)
    # BLOBS_PER_TASK OSMData blobs per task, so one 3-blob file spreads
    # over 2 tasks — the single-file parallelism claim
    assert pbf_datasource.BLOBS_PER_TASK == 2
    assert df.rdd.getNumPartitions() == 2
    ids = sorted(int(r["id"]) for r in df.collect())
    want = sorted(
        n["id"] + off * 10**9 for off in range(3) for n in NODES
    )
    assert ids == want


def test_read_osm_dispatches_pbf_to_datasource(spark, single_blob_file):
    """osm.read_osm on a .pbf path must route through the osmpbf
    DataSource (r11) and return the same raw-elements rows the
    pure-Python decoder returns — so wrangle_maps is format-agnostic."""
    from data_wrangle_openstreetmaps_data_spark.sources import osm

    df = osm.read_osm(spark, single_blob_file)
    with open(single_blob_file, "rb") as f:
        decoded = pbf.decode_pbf_bytes(f.read())
    got = {(r["id"], r["type"], r["user"]) for r in df.collect()}
    want = {
        (e["id"], e["type"], e["user"])
        for e in decoded
        if e["type"] in ("node", "way")
    }
    assert got == want and got
