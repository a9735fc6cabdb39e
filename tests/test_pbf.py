"""OSM PBF source: pure-decoder unit tests + Spark round-trip through
``osm.read_osm`` (the ``osmpbf`` DataSource) + the full reshape pipeline
over PBF input (format parity with the XML path)."""

from __future__ import annotations

import os

import pytest

from data_wrangle_openstreetmaps_data_spark.operators.reshape import shape_elements
from data_wrangle_openstreetmaps_data_spark.sources import osm, pbf
from tests.pbf_encoder import encode_pbf

TMP = os.path.join(os.path.dirname(__file__), "..", ".tmp")

NODES = [
    {
        "id": 261114295, "lat": 41.9730791, "lon": -87.6866303,
        "user": "bbmiller", "uid": 451048, "version": 7,
        "changeset": 11129782,
        "timestamp_ms": 1332959483000,  # 2012-03-28T18:31:23Z
        "tags": {},
    },
    {
        "id": 2, "lat": 22.57, "lon": 88.36, "user": "ua", "uid": 10,
        "version": 1, "changeset": 5, "timestamp_ms": 1357000000000,
        "tags": {"shop": "supermarket", "addr:street": "Park st"},
    },
]

WAYS = [
    {
        "id": 7, "refs": [261114295, 2, 261114295], "user": "ua", "uid": 10,
        "version": 1, "changeset": 8, "timestamp_ms": 1357100000000,
        "tags": {"highway": "service", "addr:street": "MG Rd."},
    }
]

RELATIONS = [
    {
        "id": 9, "user": "ua",
        "members": [("way", 7, "outer"), ("node", 2, "")],
        "tags": {"type": "multipolygon"},
    }
]


@pytest.fixture(scope="module")
def pbf_file():
    os.makedirs(TMP, exist_ok=True)
    path = os.path.join(TMP, "fixture.osm.pbf")
    with open(path, "wb") as f:
        f.write(encode_pbf(NODES, WAYS, RELATIONS))
    return path


def test_pure_decoder_roundtrip(pbf_file):
    with open(pbf_file, "rb") as f:
        elements = pbf.decode_pbf_bytes(f.read())
    by_id = {(e["type"], e["id"]): e for e in elements}
    n1 = by_id[("node", "261114295")]
    assert float(n1["lat"]) == pytest.approx(41.9730791, abs=1e-7)
    assert float(n1["lon"]) == pytest.approx(-87.6866303, abs=1e-7)
    assert n1["user"] == "bbmiller"
    assert n1["uid"] == "451048"
    assert n1["version"] == "7"
    assert n1["timestamp"] == "2012-03-28T18:31:23Z"
    n2 = by_id[("node", "2")]
    assert {t["k"]: t["v"] for t in n2["tags"]} == {
        "shop": "supermarket", "addr:street": "Park st"
    }
    w = by_id[("way", "7")]
    assert [r["ref"] for r in w["nds"]] == ["261114295", "2", "261114295"]
    r = by_id[("relation", "9")]
    assert r["members"] == [
        {"mtype": "way", "ref": "7", "role": "outer"},
        {"mtype": "node", "ref": "2", "role": ""},
    ]


def test_truncated_pbf_raises_clear_error(pbf_file):
    with open(pbf_file, "rb") as f:
        data = f.read()
    # cut mid-blob: framing must fail loudly, not silently drop bytes
    with pytest.raises(ValueError, match="truncated PBF"):
        pbf.decode_pbf_bytes(data[: len(data) - 10])
    # cut mid-BlobHeader
    with pytest.raises(ValueError, match="truncated PBF"):
        pbf.decode_pbf_bytes(data[:6])
    # 1-3 stray bytes after the last blob: too short for a length prefix
    for tail in (b"\x00", b"\x00\x00", b"\x00\x00\x00"):
        with pytest.raises(ValueError, match="truncated PBF"):
            pbf.decode_pbf_bytes(data + tail)
    # a spec-valid blob in a compression the decoder lacks (lzma_data)
    with pytest.raises(ValueError,
                       match="unsupported PBF blob compression: field 4"):
        pbf.decode_pbf_bytes(encode_pbf(NODES, WAYS, RELATIONS, data_field=4))
    # uncompressed ``raw`` blobs decode like zlib ones
    assert pbf.decode_pbf_bytes(
        encode_pbf(NODES, WAYS, RELATIONS, data_field=1)
    ) == pbf.decode_pbf_bytes(data)


def test_spark_read_pbf(spark, pbf_file):
    df = osm.read_osm(spark, pbf_file, ("node", "way", "relation"))
    assert df.count() == 4
    types = {r["type"] for r in df.select("type").distinct().collect()}
    assert types == {"node", "way", "relation"}


def test_pbf_feeds_reshape_pipeline(spark, pbf_file):
    raw = osm.read_osm(spark, pbf_file)
    docs = {r["id"]: r.asDict(recursive=True) for r in shape_elements(raw).collect()}
    assert docs["261114295"]["pos"] == pytest.approx(
        [41.9730791, -87.6866303], abs=1e-7
    )
    assert docs["261114295"]["created"]["user"] == "bbmiller"
    # cleaning runs identically over PBF-sourced data
    assert docs["2"]["address"]["street"] == "Park Street"
    assert docs["7"]["address"]["street"] == "MG Road"
    assert docs["7"]["node_refs"][0] == docs["7"]["node_refs"][-1]


def test_pbf_xml_format_parity(spark, pbf_file):
    """The same logical content through PBF and XML yields identical
    reshaped documents (ids, positions, tags)."""
    xml_path = os.path.join(TMP, "parity.osm")
    with open(xml_path, "w") as f:
        f.write(
            """<?xml version="1.0"?>
<osm>
  <node id="2" lat="22.57" lon="88.36" user="ua" uid="10" version="1"
        changeset="5" timestamp="2013-01-01T00:26:40Z">
    <tag k="shop" v="supermarket"/>
    <tag k="addr:street" v="Park st"/>
  </node>
</osm>
"""
        )
    via_xml = shape_elements(osm.read_osm(spark, xml_path, ("node",))).collect()[0]
    via_pbf = [
        r for r in shape_elements(osm.read_osm(spark, pbf_file)).collect()
        if r["id"] == "2"
    ][0]
    assert via_xml["id"] == via_pbf["id"]
    assert via_xml["address"] == via_pbf["address"]
    assert via_xml["tags"] == via_pbf["tags"]
    assert via_xml["pos"] == pytest.approx(via_pbf["pos"], abs=1e-7)
