"""Reference-fidelity tests for the reshape operator: the golden asserts
from test_reshaped_data (openstreet_kolkata.py:539-562) G1-G3 and the
tag-shaping spec case G4 (:424-440), on synthetic raw OSM-shaped rows
(FIXTURES.md §1/§2/§4)."""

from __future__ import annotations

from pyspark.sql import Row

from data_wrangle_openstreetmaps_data_spark.operators.reshape import shape_elements
from data_wrangle_openstreetmaps_data_spark.sources.osm import RAW_SCHEMA


def _raw(**kw):
    base = dict(
        id=None, type=None, lat=None, lon=None, visible=None, version=None,
        changeset=None, timestamp=None, user=None, uid=None, tags=None,
        nds=None, members=None,
    )
    base.update(kw)
    return Row(**base)


def _g1_node():
    # G1 — first example.osm node (openstreet_kolkata.py:541-554)
    return _raw(
        id="261114295", type="node", lat="41.9730791", lon="-87.6866303",
        visible="true", version="7", changeset="11129782",
        timestamp="2012-03-28T18:31:23Z", user="bbmiller", uid="451048",
        tags=[],
    )


def _g2_way():
    # G2 — last example.osm way (:555-562): cleaned address + ordered refs
    refs = ["2199822281", "2199822390", "2199822392", "2199822369",
            "2199822370", "2199822284", "2199822281"]
    return _raw(
        id="209809850", type="way", user="chicago-buildings",
        uid="674454", version="1", changeset="15353317",
        timestamp="2013-03-13T15:58:04Z",
        tags=[
            Row(k="addr:street", v="West Lexington St."),
            Row(k="addr:housenumber", v="1412"),
        ],
        nds=[Row(ref=r) for r in refs],
    )


def _g4_node():
    # G4 — tag-shaping spec (:424-440)
    return _raw(
        id="1", type="node", user="u", uid="1", lat="1.0", lon="2.0",
        tags=[
            Row(k="addr:housenumber", v="5158"),
            Row(k="addr:street", v="North Lincoln Avenue"),
            Row(k="addr:street:name", v="Lincoln"),
            Row(k="addr:street:prefix", v="North"),
            Row(k="addr:street:type", v="Avenue"),
            Row(k="amenity", v="pharmacy"),
            Row(k="bad key", v="dropped"),
        ],
    )


def test_g1_first_node(spark):
    df = spark.createDataFrame([_g1_node()], RAW_SCHEMA)
    row = shape_elements(df).collect()[0].asDict(recursive=True)
    assert row["id"] == "261114295"
    assert row["type"] == "node"
    assert row["visible"] == "true"
    assert row["pos"] == [41.9730791, -87.6866303]
    assert row["created"] == {
        "changeset": "11129782", "user": "bbmiller", "version": "7",
        "uid": "451048", "timestamp": "2012-03-28T18:31:23Z",
    }
    assert row["address"] is None
    assert row["tags"] is None
    assert row["node_refs"] is None


def test_g2_way_address_and_refs(spark):
    df = spark.createDataFrame([_g2_way()], RAW_SCHEMA)
    row = shape_elements(df).collect()[0].asDict(recursive=True)
    # 'St.' maps to canonical 'Street' via the street mapping; housenumber
    # stays (reference golden predates cleaning fusion; our pipeline cleans)
    assert row["address"]["street"] == "West Lexington Street"
    assert row["address"]["housenumber"] == "1412"
    # node_refs: exact order, duplicates preserved (closed way)
    assert row["node_refs"] == [
        "2199822281", "2199822390", "2199822392", "2199822369",
        "2199822370", "2199822284", "2199822281",
    ]
    assert row["pos"] is None


def test_g2_unclean_matches_reference_golden(spark):
    # with clean=False the reference golden holds verbatim: 'St.' untouched
    df = spark.createDataFrame([_g2_way()], RAW_SCHEMA)
    row = shape_elements(df, clean=False).collect()[0].asDict(recursive=True)
    assert row["address"] == {
        "street": "West Lexington St.", "housenumber": "1412"
    }


def test_g4_tag_shaping(spark):
    df = spark.createDataFrame([_g4_node()], RAW_SCHEMA)
    row = shape_elements(df).collect()[0].asDict(recursive=True)
    assert row["address"] == {
        "housenumber": "5158", "street": "North Lincoln Avenue"
    }
    assert row["tags"] == {"amenity": "pharmacy"}  # 'bad key' dropped


def test_validity_gate(spark):
    # G3 intent: elements without a user are dropped; non-node/way dropped
    rows = [
        _raw(id="1", type="node", user="u", uid="1", tags=[]),
        _raw(id="2", type="node", user=None, tags=[]),
        _raw(id="3", type="relation", user="u", tags=[]),
    ]
    df = spark.createDataFrame(rows, RAW_SCHEMA)
    ids = [r["id"] for r in shape_elements(df).collect()]
    assert ids == ["1"]


def test_duplicate_tag_keys_last_wins(spark):
    # reference dict semantics: a repeated key overwrites (last wins) —
    # must hold even under the strict default mapKeyDedupPolicy
    df = spark.createDataFrame(
        [
            _raw(
                id="1", type="node", user="u",
                tags=[
                    Row(k="amenity", v="old"),
                    Row(k="amenity", v="new"),
                    Row(k="addr:city", v="first"),
                    Row(k="addr:city", v="second"),
                ],
            )
        ],
        RAW_SCHEMA,
    )
    prev = spark.conf.get("spark.sql.mapKeyDedupPolicy")
    try:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
        row = shape_elements(df, clean=False).collect()[0].asDict(recursive=True)
    finally:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", prev)
    assert row["tags"] == {"amenity": "new"}
    assert row["address"] == {"city": "second"}
    # and with cleaning on (street-value extraction path)
    df2 = spark.createDataFrame(
        [
            _raw(
                id="2", type="node", user="u",
                tags=[
                    Row(k="addr:street", v="ignored st"),
                    Row(k="addr:street", v="Park st"),
                ],
            )
        ],
        RAW_SCHEMA,
    )
    try:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
        row2 = shape_elements(df2).collect()[0].asDict(recursive=True)
    finally:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", prev)
    assert row2["address"]["street"] == "Park Street"


def test_housenumber_lift(spark):
    # R6: street value with a leading house number lifts into the address
    df = spark.createDataFrame(
        [
            _raw(
                id="1", type="node", user="u",
                tags=[Row(k="addr:street", v="41, Jawaharlal Nehru Road")],
            ),
            _raw(
                id="2", type="node", user="u",
                tags=[
                    Row(k="addr:street", v="24/j, shyamsundar pally"),
                    Row(k="addr:housenumber", v="OLD"),
                ],
            ),
        ],
        RAW_SCHEMA,
    )
    rows = {r["id"]: r.asDict(recursive=True) for r in shape_elements(df).collect()}
    assert rows["1"]["address"] == {
        "street": "Jawaharlal Nehru Road", "housenumber": "41"
    }
    # lifted housenumber overwrites an existing one (reference intent :318-325)
    assert rows["2"]["address"] == {
        "street": "shyamsundar Pally", "housenumber": "24/j"
    }
