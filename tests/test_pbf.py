"""OSM PBF source: pure-decoder unit tests + Spark round-trip through
``osm.read_osm`` (``pbf.read_pbf``) + the full reshape pipeline
over PBF input (format parity with the XML path)."""

from __future__ import annotations

import os

import pytest

from data_wrangle_openstreetmaps_data_spark.operators.reshape import shape_elements
from data_wrangle_openstreetmaps_data_spark.sources import osm, pbf
from tests.pbf_encoder import (
    dense_nodes,
    encode_pbf,
    group,
    osm_pbf,
    primitive_block,
    relation_msg,
)

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


def test_plain_node_groups_decode_like_dense_nodes():
    """PrimitiveGroup field 1 (one Node message per node) carries the
    same nodes as DenseNodes; it used to be skipped."""
    plain = pbf.decode_pbf_bytes(encode_pbf(NODES, WAYS, RELATIONS, dense=False))
    dense = pbf.decode_pbf_bytes(encode_pbf(NODES, WAYS, RELATIONS))
    assert plain == dense
    assert [e["type"] for e in plain].count("node") == len(NODES)


def _one_block(strings, *groups) -> bytes:
    return osm_pbf(primitive_block(strings, groups))


STRINGS = ["", "outer", "shop"]

MALFORMED = {
    "lat_shorter_than_ids": (
        group(2, dense_nodes([1, 2], [10], [10, 20])),
        "2 ids but 1 lat values",
    ),
    "lon_shorter_than_ids": (
        group(2, dense_nodes([1, 2], [10, 20], [10])),
        "2 ids but 1 lon values",
    ),
    "dense_info_shorter_than_ids": (
        group(2, dense_nodes([1, 2], [10, 20], [10, 20], info={1: [1]})),
        "2 ids but 1 version values",
    ),
    "more_tag_segments_than_nodes": (
        group(2, dense_nodes([1], [10], [10], keys_vals=[2, 2, 0, 2, 2, 0])),
        "2 tag segments for 1 nodes",
    ),
    "dense_tag_index_out_of_range": (
        group(2, dense_nodes([1], [10], [10], keys_vals=[7, 2, 0])),
        "tag string index out of range",
    ),
    "dense_user_index_out_of_range": (
        group(2, dense_nodes([1], [10], [10], info={5: [9]})),
        "user string index out of range",
    ),
    "unknown_member_type": (
        group(4, relation_msg(9, roles=[1], memids=[7], types=[3])),
        "unknown member type 3",
    ),
    "role_index_out_of_range": (
        group(4, relation_msg(9, roles=[5], memids=[7], types=[1])),
        "role string index out of range",
    ),
    "key_index_out_of_range": (
        group(4, relation_msg(9, [], [], [], keys=[7], vals=[2])),
        "key string index out of range",
    ),
    "value_index_out_of_range": (
        group(4, relation_msg(9, [], [], [], keys=[2], vals=[7])),
        "value string index out of range",
    ),
    "dense_tag_key_without_value": (
        group(2, dense_nodes([1], [10], [10], keys_vals=[2, 0])),
        "a tag key has no value",
    ),
    "tag_keys_without_values": (
        group(4, relation_msg(9, [], [], [], keys=[2], vals=[])),
        "1 tag keys, 0 values",
    ),
    "member_arrays_differ": (
        group(4, relation_msg(9, roles=[1, 1], memids=[7], types=[1])),
        "2 roles, 1 member ids, 1 member types",
    ),
    "changeset_group": (group(5, b""), "ChangeSet groups are not supported"),
}


@pytest.mark.parametrize("case", sorted(MALFORMED))
def test_malformed_block_raises_named_error(case):
    """Content the decoder used to pad with None, default to "node" or
    "", or skip now raises a ValueError naming what is wrong."""
    grp, error = MALFORMED[case]
    with pytest.raises(ValueError, match=error):
        pbf.decode_pbf_bytes(_one_block(STRINGS, grp))


def test_missing_final_tag_sentinel_is_tolerated():
    """An encoder may omit keys_vals' last 0 sentinel: no data is lost,
    so the last node's tags decode as if it were there."""
    rows = pbf.decode_pbf_bytes(_one_block(
        STRINGS, group(2, dense_nodes([1, 2], [10, 20], [10, 20],
                                      keys_vals=[2, 1, 0, 2, 1]))
    ))
    assert [r["tags"] for r in rows] == [[{"k": "shop", "v": "outer"}]] * 2


def test_read_osm_schema_is_raw_schema_on_both_routes(spark, pbf_file):
    """Both ingest routes return exactly ``osm.RAW_SCHEMA``, nullability
    included (``type`` is never null, tag lists may hold nulls)."""
    xml_path = os.path.join(TMP, "schema.osm")
    with open(xml_path, "w") as f:
        f.write('<osm><node id="1" lat="1.5" lon="2.5"><tag k="a" v="b"/>'
                '</node><way id="2"><nd ref="1"/></way></osm>')
    for path in (xml_path, pbf_file):
        df = osm.read_osm(spark, path, ("node", "way", "relation"))
        assert df.schema == osm.RAW_SCHEMA, path
        assert df.count() >= 2


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


def test_childless_way_and_relation_agree_across_routes(spark):
    """A way without refs and a relation without members read as null
    child lists on both routes, so the rows and the shaped ``node_refs``
    agree (PBF used to decode them as empty lists)."""
    way = {"id": 7, "refs": [], "user": "ua", "uid": 10, "version": 1,
           "changeset": 8, "timestamp_ms": 1357100000000,
           "tags": {"highway": "service"}}
    relation = {"id": 9, "user": "ua", "members": [],
                "tags": {"type": "route"}}
    os.makedirs(TMP, exist_ok=True)
    pbf_path = os.path.join(TMP, "childless.osm.pbf")
    with open(pbf_path, "wb") as f:
        f.write(encode_pbf(ways=[way], relations=[relation]))
    xml_path = os.path.join(TMP, "childless.osm")
    with open(xml_path, "w") as f:
        f.write('<osm><way id="7" user="ua" uid="10" version="1" '
                'changeset="8" timestamp="2013-01-02T04:13:20Z">'
                '<tag k="highway" v="service"/></way>'
                '<relation id="9" user="ua" version="1">'
                '<tag k="type" v="route"/></relation></osm>')
    kinds = ("node", "way", "relation")
    via_pbf = osm.read_osm(spark, pbf_path, kinds)
    via_xml = osm.read_osm(spark, xml_path, kinds)
    assert via_pbf.count() == 2
    assert via_pbf.exceptAll(via_xml).count() == 0
    assert via_xml.exceptAll(via_pbf).count() == 0
    for raw in (via_pbf, via_xml):
        assert [r["node_refs"] for r in shape_elements(raw).collect()] == [None]


@pytest.mark.parametrize("dense", [True, False], ids=["dense", "plain"])
def test_visible_agrees_across_routes(spark, dense):
    """Info and DenseInfo ``visible`` (field 6, history files) read as the
    XML attribute's text on both routes, and as null where an element
    has none (the relation)."""
    nodes = [dict(NODES[1], visible=True), dict(NODES[1], id=3, visible=False)]
    way = dict(WAYS[0], refs=[2, 3], visible=False)
    relation = dict(RELATIONS[0], members=[("way", 7, "outer")])
    os.makedirs(TMP, exist_ok=True)
    pbf_path = os.path.join(TMP, f"visible_{dense}.osm.pbf")
    with open(pbf_path, "wb") as f:
        f.write(encode_pbf(nodes, [way], [relation], dense=dense))
    node_xml = ('<node id="{}" lat="22.57" lon="88.36" user="ua" uid="10" '
                'version="1" changeset="5" timestamp="2013-01-01T00:26:40Z" '
                'visible="{}"><tag k="shop" v="supermarket"/>'
                '<tag k="addr:street" v="Park st"/></node>')
    xml_path = os.path.join(TMP, "visible.osm")
    with open(xml_path, "w") as f:
        f.write('<osm>' + node_xml.format(2, "true")
                + node_xml.format(3, "false")
                + '<way id="7" user="ua" uid="10" version="1" changeset="8" '
                'timestamp="2013-01-02T04:13:20Z" visible="false">'
                '<nd ref="2"/><nd ref="3"/><tag k="highway" v="service"/>'
                '<tag k="addr:street" v="MG Rd."/></way>'
                '<relation id="9" user="ua" version="1">'
                '<member type="way" ref="7" role="outer"/>'
                '<tag k="type" v="multipolygon"/></relation></osm>')
    kinds = ("node", "way", "relation")
    via_pbf = osm.read_osm(spark, pbf_path, kinds)
    via_xml = osm.read_osm(spark, xml_path, kinds)
    assert {(r["type"], r["id"]): r["visible"] for r in via_pbf.collect()} == {
        ("node", "2"): "true", ("node", "3"): "false",
        ("way", "7"): "false", ("relation", "9"): None,
    }
    assert via_pbf.exceptAll(via_xml).count() == 0
    assert via_xml.exceptAll(via_pbf).count() == 0
