"""``osm.read_osm`` as the PBF data source: a ``.pbf`` input is read by
``pbf.read_pbf`` and gives the rows the pure-Python
``pbf.decode_pbf_bytes`` oracle gives, for every element type and for
``read_osm``'s default types. Framing, fan-out and malformed input are
in ``tests/test_read_pbf.py``."""

from __future__ import annotations

import pytest

from data_wrangle_openstreetmaps_data_spark.sources import osm, pbf
from tests.pbf_encoder import encode_pbf
from tests.test_pbf import NODES, RELATIONS, WAYS
from tests.test_read_pbf import KINDS, _write


@pytest.fixture(scope="module")
def pbf_file():
    return _write("ds_parity.osm.pbf", encode_pbf(NODES, WAYS, RELATIONS))


def _decoded(path: str) -> list[dict]:
    with open(path, "rb") as f:
        return sorted(pbf.decode_pbf_bytes(f.read()),
                      key=lambda e: (e["type"], e["id"]))


def test_datasource_parity_with_pure_decoder(spark, pbf_file):
    got = osm.read_osm(spark, pbf_file, KINDS).orderBy("type", "id")
    assert [r.asDict(recursive=True) for r in got.collect()] == \
        _decoded(pbf_file)


def test_read_osm_dispatches_pbf_to_datasource(spark, pbf_file):
    """The default element types keep the decoder's node and way rows,
    so ``wrangle_maps`` reads PBF and XML alike."""
    got = osm.read_osm(spark, pbf_file).orderBy("type", "id")
    want = [e for e in _decoded(pbf_file) if e["type"] in ("node", "way")]
    assert [r.asDict(recursive=True) for r in got.collect()] == want
    assert want
