"""End-to-end OSM fidelity: generate an OSM XML fixture (G1/G2 content +
shops/highways), read through the native XML datasource, run the full
wrangle pipeline, check audits/reshape/queries/sinks."""

from __future__ import annotations

import os

import pytest

from data_wrangle_openstreetmaps_data_spark.plans.pipeline import wrangle_maps
from data_wrangle_openstreetmaps_data_spark.sources import json_sink, osm

TMP = os.path.join(os.path.dirname(__file__), "..", ".tmp")

OSM_XML = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
  <node id="261114295" visible="true" version="7" changeset="11129782"
        timestamp="2012-03-28T18:31:23Z" user="bbmiller" uid="451048"
        lat="41.9730791" lon="-87.6866303"/>
  <node id="2" lat="22.57" lon="88.36" user="ua" uid="10" version="1"
        changeset="5" timestamp="2013-01-01T00:00:00Z">
    <tag k="shop" v="supermarket"/>
    <tag k="addr:street" v="Park st"/>
    <tag k="addr:city" v="kolkata"/>
    <tag k="addr:postcode" v="700091"/>
  </node>
  <node id="3" lat="22.58" lon="88.37" user="ua" uid="10" version="1"
        changeset="5" timestamp="2013-01-01T00:00:00Z">
    <tag k="shop" v="supermarket"/>
    <tag k="amenity" v="cafe"/>
  </node>
  <node id="4" lat="22.59" lon="88.38" user="ub" uid="11" version="1"
        changeset="6" timestamp="2013-01-02T00:00:00Z">
    <tag k="shop" v="bakery"/>
    <tag k="addr:street:name" v="dropped"/>
  </node>
  <node id="5" lat="22.60" lon="88.39" version="1" changeset="7"
        timestamp="2013-01-03T00:00:00Z"/>
  <way id="209809850" user="chicago-buildings" uid="674454" version="1"
       changeset="15353317" timestamp="2013-03-13T15:58:04Z">
    <nd ref="2199822281"/>
    <nd ref="2199822390"/>
    <nd ref="2199822392"/>
    <nd ref="2199822369"/>
    <nd ref="2199822370"/>
    <nd ref="2199822284"/>
    <nd ref="2199822281"/>
    <tag k="addr:street" v="West Lexington St."/>
    <tag k="addr:housenumber" v="1412"/>
    <tag k="highway" v="residential"/>
  </way>
  <way id="7" user="ua" uid="10" version="1" changeset="8"
       timestamp="2013-01-04T00:00:00Z">
    <nd ref="2"/>
    <nd ref="3"/>
    <tag k="highway" v="service"/>
  </way>
  <relation id="8" user="ua" uid="10" version="1" changeset="9"
            timestamp="2013-01-05T00:00:00Z">
    <member type="way" ref="7" role="outer"/>
    <member type="node" ref="2" role=""/>
    <tag k="type" v="multipolygon"/>
  </relation>
</osm>
"""


@pytest.fixture(scope="module")
def osm_file():
    os.makedirs(TMP, exist_ok=True)
    path = os.path.join(TMP, "example.osm")
    with open(path, "w") as f:
        f.write(OSM_XML)
    return path


def test_read_elements_schema(spark, osm_file):
    nodes = osm.read_elements(spark, osm_file, "node")
    assert nodes.count() == 5
    cols = set(nodes.columns)
    assert {"id", "type", "lat", "lon", "user", "tags", "nds"} <= cols
    ways = osm.read_elements(spark, osm_file, "way")
    assert ways.count() == 2
    rels = osm.read_elements(spark, osm_file, "relation")
    row = rels.first()
    members = [m.asDict() for m in row["members"]]
    assert members == [
        {"mtype": "way", "ref": "7", "role": "outer"},
        {"mtype": "node", "ref": "2", "role": ""},
    ]


def test_wrangle_pipeline_end_to_end(spark, osm_file):
    out_json = os.path.join(TMP, "docs_json")
    out_store = os.path.join(TMP, "docs_store")
    res = wrangle_maps(spark, osm_file, out_json=out_json, out_store=out_store)

    # audit_tags: 5 nodes + 2 ways in the unioned stream
    tags = {r["type"]: r["cnt"] for r in res.audits["tags"].collect()}
    assert tags == {"node": 5, "way": 2}

    # audit_users: node 5 has no user → distinct users {ua, ub,
    # bbmiller, chicago-buildings} + null bucket counted per contribution
    users = {r["user"]: r["cnt"] for r in res.audits["users"].collect()}
    assert users["ua"] == 3 and users["ub"] == 1

    # postcode audit
    pc = {r["bucket"]: r for r in res.audits["postcodes"].collect()}
    assert pc["addr:postcode6"]["any_valid"] is True

    # reshape: validity gate drops user-less node 5 and keeps 4 nodes + 2 ways
    docs = {r["id"]: r.asDict(recursive=True) for r in res.docs.collect()}
    assert len(docs) == 6
    g1 = docs["261114295"]
    assert g1["pos"] == [41.9730791, -87.6866303]
    assert g1["created"]["user"] == "bbmiller"
    g2 = docs["209809850"]
    assert g2["address"]["street"] == "West Lexington Street"  # cleaned
    assert g2["node_refs"][0] == g2["node_refs"][-1] == "2199822281"
    # cleaning applied through the XML path
    assert docs["2"]["address"]["street"] == "Park Street"
    assert docs["2"]["address"]["city"] == "Kolkata"
    assert docs["4"]["address"] is None  # addr:street:name dropped

    # audit-after-clean (cleanup=True path): cleaned street values audited
    post = {
        r["stype"]: r for r in res.audits["street_types_after_clean"].collect()
    }
    # 'Park st' became 'Park Street' (expected type) and 'West Lexington
    # St.' became '... Street' → no st/St. buckets remain after cleaning
    assert "st" not in post and "St." not in post

    # queries: top shops / highways with golden counts
    shops = {r["shop"]: r["cnt"] for r in res.queries["top_shops"].collect()}
    assert shops == {"supermarket": 2, "bakery": 1}
    hw = {r["highway"]: r["cnt"] for r in res.queries["top_highways"].collect()}
    assert hw == {"residential": 1, "service": 1}
    assert res.queries["unique_users"].first()["cnt"] == 4

    # sinks: JSON-lines + parquet store round-trip with same cardinality
    assert json_sink.read_json(spark, out_json).count() == 6
    assert json_sink.read_store(spark, out_store).count() == 6


def test_reshape_is_built_once_over_the_cleaned_frame(spark, osm_file,
                                                     monkeypatch):
    # one wrangle plans the reshape at most once, over the frame the
    # post-clean audits already cleaned: without sinks only when docs or
    # queries are first read, with sinks at the call
    from data_wrangle_openstreetmaps_data_spark.plans import pipeline

    calls = []
    real = pipeline.shape_elements

    def counting(*a, **kw):
        calls.append(kw.get("clean", True))
        return real(*a, **kw)

    monkeypatch.setattr(pipeline, "shape_elements", counting)

    res = wrangle_maps(spark, osm_file)
    for df in res.audits.values():
        df.collect()
    assert calls == []
    assert res.docs.count() == 6
    assert calls == [False]
    assert res.docs is res.docs
    assert res.queries["unique_users"].first()["cnt"] == 4
    assert calls == [False]

    calls.clear()
    res = wrangle_maps(spark, osm_file)
    assert res.queries["unique_users"].first()["cnt"] == 4
    assert res.docs.count() == 6
    assert calls == [False]

    calls.clear()
    out_json = os.path.join(TMP, "once_docs_json")
    out_store = os.path.join(TMP, "once_docs_store")
    res = wrangle_maps(spark, osm_file, out_json=out_json, out_store=out_store)
    assert calls == [False]
    assert res.queries["unique_users"].first()["cnt"] == 4
    assert json_sink.read_json(spark, out_json).count() == 6
    assert json_sink.read_store(spark, out_store).count() == 6
    assert calls == [False]


def test_resolve_refs_join(spark, osm_file):
    # EXT-J1 on real OSM-shaped data: way refs resolved to node positions
    from data_wrangle_openstreetmaps_data_spark.operators.join import resolve_refs
    from data_wrangle_openstreetmaps_data_spark.operators.reshape import (
        shape_elements,
    )
    from data_wrangle_openstreetmaps_data_spark.sources import osm

    docs = shape_elements(osm.read_osm(spark, osm_file))
    ways = docs.filter(docs["type"] == "way")
    nodes = docs.filter(docs["type"] == "node")
    resolved = resolve_refs(ways, nodes).collect()
    by_way = {}
    for r in resolved:
        by_way.setdefault(r["way_id"], []).append(r)
    w7 = sorted(by_way["7"], key=lambda r: r["seq"])
    # way 7 references nodes 2 and 3 — both resolve with positions, in order
    assert [r["ref"] for r in w7] == ["2", "3"]
    assert all(r["pos"] is not None for r in w7)
    # the G2 way references nodes absent from the fixture → left join nulls
    g2 = by_way["209809850"]
    assert len(g2) == 7 and all(r["pos"] is None for r in g2)


def test_malformed_rows_do_not_kill_the_scan(spark):
    # production posture: one bad element must not fail a 100 TB ingest —
    # the XML datasource's PERMISSIVE mode nulls out malformed rows
    bad = os.path.join(TMP, "malformed.osm")
    with open(bad, "w") as f:
        f.write(
            """<?xml version="1.0"?>
<osm>
  <node id="1" lat="10.0" lon="20.0" user="u" uid="1" version="1"
        changeset="1" timestamp="2013-01-01T00:00:00Z"/>
  <node id="2" lat="NOT_A_NUMBER" lon="20.0" user="u" uid="1" version="1"
        changeset="1" timestamp="2013-01-01T00:00:00Z"/>
</osm>
"""
        )
    nodes = osm.read_elements(spark, bad, "node")
    rows = {r["id"]: r for r in nodes.collect()}
    assert "1" in rows
    # raw attributes stay strings in our normalized schema — the bad value
    # survives as data (cast-to-double happens later, yielding NULL pos)
    assert rows["2"]["lat"] == "NOT_A_NUMBER"
    from data_wrangle_openstreetmaps_data_spark.operators.reshape import (
        shape_elements,
    )
    shaped = {r["id"]: r for r in shape_elements(nodes).collect()}
    assert shaped["1"]["pos"] == [10.0, 20.0]
    assert shaped["2"]["pos"] is None or shaped["2"]["pos"][0] is None


def test_zip_resolve_extract_once(spark, osm_file):
    # S1 second half (reference find_file, openstreet_kolkata.py:15-35):
    # .zip is extracted once into a cache and reads go through the cache
    import zipfile

    zip_path = os.path.join(TMP, "example_zip.osm.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.write(osm_file, arcname="example.osm")
    resolved = osm.resolve_input(zip_path)
    assert resolved != zip_path and os.path.isdir(resolved)
    # second resolve reuses the same extraction (same cache key)
    assert osm.resolve_input(zip_path) == resolved
    nodes = osm.read_osm(spark, zip_path, ("node",))
    assert nodes.count() == 5
    # non-archives pass through untouched
    assert osm.resolve_input(osm_file) == osm_file
    bz = os.path.join(TMP, "x.osm.bz2")
    assert osm.resolve_input(bz) == bz


def test_bz2_transparent_read(spark, osm_file):
    # S1: .bz2 is decompressed inside the scan — no extract step
    import bz2 as bz2lib

    bz_path = os.path.join(TMP, "example_bz.osm.bz2")
    with open(osm_file, "rb") as f, bz2lib.open(bz_path, "wb") as out:
        out.write(f.read())
    nodes = osm.read_elements(spark, bz_path, "node")
    assert nodes.count() == 5


def test_pretty_json_roundtrip(spark):
    """Reference parity for reshape_data(pretty=True)
    (openstreet_kolkata.py:576-579): indented multi-line objects back to
    back, null fields omitted, and read_json(pretty=True) recovers the
    same rows — including a nested struct, whose indented braces must not
    confuse the record-boundary split."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", 1, ("x", "y"), None), ("b", 2, ("p", "q"), "keep"),
         (None, None, None, None)],   # all-null record → '{ }' single line
        ["id", "n", "created", "opt"],
    ).select("id", "n", F.struct("created._1", "created._2").alias("created"), "opt")
    out = os.path.join(TMP, "pretty_json")
    json_sink.write_json(df, out, pretty=True)

    # file content is the reference's shape: records open at column 0,
    # body lines are indented, null fields dropped; the all-null record
    # collapses to a single-line '{ }'
    import glob
    import re
    text = "".join(open(f).read() for f in sorted(glob.glob(out + "/part-*")))
    assert len(re.findall(r"(?m)^\{", text)) == 3  # three records
    assert text.count('"opt"') == 1  # a's null opt dropped, b's kept
    assert '  "created"' in text     # nested struct is indented, not col-0

    back = json_sink.read_json(spark, out, pretty=True)
    collected = back.collect()
    assert len(collected) == 3       # incl. the all-null '{ }' record
    rows = {r["id"]: r.asDict(recursive=True)
            for r in collected if r["id"] is not None}
    assert len(rows) == 2
    assert rows["b"]["opt"] == "keep"
    assert rows["a"].get("opt") is None
    assert rows["a"]["created"]["_1"] == "x"
    assert rows["b"]["created"]["_2"] == "q"
