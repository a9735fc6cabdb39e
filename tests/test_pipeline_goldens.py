"""``wrangle_maps`` reproduces the seeded corpus goldens on both ingest
routes. One element stream (``perfbench.corpus``) is written as sharded
XML and as one multi-blob ``.osm.pbf``; each is wrangled with both sinks,
and every audit, every reference query and both sink row counts must
match the goldens computed in plain Python from the stream (the
invariant classes the reference publishes in README.md:128,138). The two
routes must also agree with each other row for row: every audit and
query, and the raw frame and the reshaped docs themselves. The store
queries as the benchmark client composes them must give the rows of
``pipeline.store_queries``, and the two sinks must hold the same rows."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_wrangle_openstreetmaps_data_spark.plans import pipeline
from data_wrangle_openstreetmaps_data_spark.sources import json_sink
from perfbench import corpus, workloads

SEED, N_NODES, N_WAYS = 7, 2000, 400


def _wrangle(spark, manifest: dict, work: str) -> tuple[dict, list[str]]:
    out = workloads.Paths.under(work)
    _, rows = workloads.run_wrangle(spark, manifest, out, workloads.SINKS)
    expected = workloads.wrangle_checks(manifest, workloads.SINKS)
    return rows, workloads.check(manifest, rows, expected, out)


def _raw_and_docs(spark, manifest: dict) -> tuple[list, list]:
    """The raw frame and the docs of a no-sink wrangle, sorted by
    (type, id). Raw coordinates are compared as doubles: the XML route
    keeps the attribute text ("88.5566100"), a PBF has none."""
    res = pipeline.wrangle_maps(spark, manifest["source"])
    raw = res.raw.withColumns(
        {c: F.col(c).cast("double") for c in ("lat", "lon")})
    return tuple(
        [r.asDict(recursive=True) for r in df.orderBy("type", "id").collect()]
        for df in (raw, res.docs)
    )


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


def test_xml_and_pbf_routes_agree_row_for_row(spark, tmp_path):
    xml = corpus.build(str(tmp_path / "xml"), SEED, N_NODES, N_WAYS,
                       shards=2)
    pbf = corpus.build(str(tmp_path / "pbf"), SEED, N_NODES, N_WAYS,
                       per_blob=500)
    raw_xml, docs_xml = _raw_and_docs(spark, xml)
    raw_pbf, docs_pbf = _raw_and_docs(spark, pbf)
    assert len(raw_xml) == len(docs_xml) == N_NODES + N_WAYS
    assert raw_xml == raw_pbf
    assert docs_xml == docs_pbf


def test_store_queries_match_the_benchmark_client(spark, tmp_path):
    """perfbench composes the five store queries itself; on the same
    store they must give the rows ``pipeline.store_queries`` gives."""
    xml = corpus.build(str(tmp_path / "xml"), SEED, N_NODES, N_WAYS,
                       shards=2)
    out = workloads.Paths.under(str(tmp_path / "run"))
    workloads.build_store(spark, xml, out)
    docs = json_sink.read_store(spark, out.store)
    ours = {k: corpus.fingerprint(df.collect())
            for k, df in pipeline.store_queries(docs).items()}
    client = {k: corpus.fingerprint(q().collect())
              for k, q in workloads._store_queries(docs).items()}
    assert set(ours) == set(workloads.QUERIES)
    assert ours == client
    assert ours == {k: xml["goldens"][f"query.{k}"] for k in ours}


def _comparable(df):
    """Map columns as sorted entry arrays, since set operations refuse
    maps."""
    return df.select(*[
        F.array_sort(F.map_entries(f.name)).alias(f.name)
        if isinstance(f.dataType, T.MapType) else F.col(f.name)
        for f in df.schema.fields
    ])


def test_json_sink_and_store_hold_the_same_rows(spark, tmp_path):
    """The JSON lines read back with the store's schema equal the store
    row for row, on both routes. Columns are matched by name: the store
    puts its partition column ``type`` last."""
    for route, opts in (("xml", {"shards": 2}), ("pbf", {"per_blob": 500})):
        manifest = corpus.build(str(tmp_path / route), SEED, N_NODES,
                                N_WAYS, **opts)
        out = workloads.Paths.under(str(tmp_path / f"{route}_run"))
        pipeline.wrangle_maps(spark, manifest["source"], out_json=out.json,
                              out_store=out.store)
        store = spark.read.parquet(out.store)
        assert store.columns[-1] == "type"
        json_rows = spark.read.schema(store.schema).json(out.json)
        store, json_rows = (_comparable(df.select(*store.columns))
                            for df in (store, json_rows))
        assert store.count() == json_rows.count() == N_NODES + N_WAYS
        assert store.exceptAll(json_rows).count() == 0, route
        assert json_rows.exceptAll(store).count() == 0, route
