"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus, run, workloads  # noqa: E402
from perfbench.trace import COUNTERS  # noqa: E402


def _tree(directory: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(directory):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), directory)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_corpus(tmp_path):
    for layout in ({"shards": 3}, {"per_blob": 100}):
        a, b = (str(tmp_path / f"{d}-{next(iter(layout))}") for d in "ab")
        assert (corpus.build(a, 5, 400, 80, **layout)["goldens"]
                == corpus.build(b, 5, 400, 80, **layout)["goldens"])
        assert len(_tree(a)) > 1 and _tree(a) == _tree(b)


def test_other_seed_differs():
    g5 = corpus.goldens(*corpus.element_stream(5, 400, 80))
    g6 = corpus.goldens(*corpus.element_stream(6, 400, 80))
    assert g5 != g6
    assert corpus.element_stream(5, 400, 80) != corpus.element_stream(6, 400, 80)


def test_pbf_round_trips_through_the_engine_decoder(tmp_path):
    from data_wrangle_openstreetmaps_data_spark.sources import pbf

    nodes, ways = corpus.element_stream(3, 300, 50)
    path = str(tmp_path / "c.osm.pbf")
    corpus.write_pbf(path, nodes, ways, per_blob=64)
    with open(path, "rb") as f:
        decoded = pbf.decode_pbf_bytes(f.read())
    assert [(e["id"], e["type"], e["user"]) for e in decoded] == (
        [(str(n["id"]), "node", n["user"]) for n in nodes]
        + [(str(w["id"]), "way", w["user"]) for w in ways])
    assert [[(t["k"], t["v"]) for t in e["tags"] or []] for e in decoded] == (
        [n["tags"] for n in nodes] + [w["tags"] for w in ways])


def _manifest_and_rows():
    nodes, ways = corpus.element_stream(9, 400, 80)
    rows = corpus.golden_rows(nodes, ways)
    manifest = {"goldens": corpus.goldens(nodes, ways),
                "elements": len(nodes) + len(ways)}
    return manifest, rows


def test_golden_check_passes_on_right_answers():
    manifest, rows = _manifest_and_rows()
    audits = workloads.wrangle_checks(manifest, ())
    assert sorted(audits) == sorted(k for k in rows if k.startswith("audit."))
    rows = {k: list(reversed(v)) for k, v in rows.items()}  # order-insensitive
    assert workloads.check(manifest, {k: rows[k] for k in audits}, audits,
                           None) == []
    for q in workloads.QUERIES:
        name = f"query.{q}"
        assert workloads.check(manifest, {name: rows[name]}, [name], None) == []


def test_golden_check_fails_on_planted_wrong_answers():
    manifest, rows = _manifest_and_rows()
    audits = workloads.wrangle_checks(manifest, ())
    wrong = {k: rows[k] for k in audits}
    wrong["audit.tags"] = [dict(r, cnt=r["cnt"] + 1) if r["type"] == "node"
                           else r for r in rows["audit.tags"]]
    wrong["audit.users"] = rows["audit.users"][1:]
    del wrong["audit.postcodes"]
    wrong["audit.unexpected"] = []
    assert sorted(workloads.check(manifest, wrong, audits, None)) == [
        "audit.postcodes", "audit.tags", "audit.unexpected", "audit.users"]
    top = rows["query.top_shops"]
    wrong_top = [dict(top[0], cnt=top[0]["cnt"] + 1)] + top[1:]
    assert workloads.check(manifest, {"query.top_shops": wrong_top},
                           ["query.top_shops"], None) == ["query.top_shops"]


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"]), m
    for m in spec["end_to_end"]:
        want = "higher" if m["name"] == "ops_per_s" else "lower"
        assert m["better"] == want, m
    for m in spec["per_layer"]:
        counter = m["name"].rsplit(".", 1)[1]
        want = "higher" if counter in run.HIGHER_IS_BETTER else "lower"
        assert m["better"] == want, m
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert all(f"{b}.{c}" in run.per_layer_names()
               for b in run.BOUNDARIES for c in COUNTERS)
