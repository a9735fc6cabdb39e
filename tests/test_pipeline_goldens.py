"""``wrangle_maps`` reproduces the seeded corpus goldens on both ingest
routes. One element stream (``perfbench.corpus``) is written as sharded
XML and as one multi-blob ``.osm.pbf``; each is wrangled with both sinks,
and every audit, every reference query and both sink row counts must
match the goldens computed in plain Python from the stream (the
invariant classes the reference publishes in README.md:128,138). The two
routes must also agree with each other row for row."""

from __future__ import annotations

from perfbench import corpus, workloads

SEED, N_NODES, N_WAYS = 7, 2000, 400


def _wrangle(spark, manifest: dict, work: str) -> tuple[dict, list[str]]:
    out = workloads.Paths.under(work)
    _, rows = workloads.run_wrangle(spark, manifest, out, workloads.SINKS)
    expected = workloads.wrangle_checks(manifest, workloads.SINKS)
    return rows, workloads.check(manifest, rows, expected, out)


def test_pipeline_reproduces_generator_goldens(spark, tmp_path):
    xml = corpus.build(str(tmp_path / "xml"), SEED, N_NODES, N_WAYS,
                       shards=2)
    pbf = corpus.build(str(tmp_path / "pbf"), SEED, N_NODES, N_WAYS,
                       per_blob=500)
    assert xml["goldens"] == pbf["goldens"]
    assert xml["elements"] == pbf["elements"] == N_NODES + N_WAYS

    via_xml, failed_xml = _wrangle(spark, xml, str(tmp_path / "xml_run"))
    via_pbf, failed_pbf = _wrangle(spark, pbf, str(tmp_path / "pbf_run"))
    assert failed_xml == []
    assert failed_pbf == []
    # every golden was actually checked, on both routes
    assert set(via_xml) == set(via_pbf) == set(xml["goldens"])
    assert {k: corpus.fingerprint(v) for k, v in via_xml.items()} == {
        k: corpus.fingerprint(v) for k, v in via_pbf.items()
    }
