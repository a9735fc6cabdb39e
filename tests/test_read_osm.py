"""``osm.read_osm`` as the one ingest front door: an input (file, glob,
directory or ``.zip``) is resolved once to a sorted file list on the
driver, the files pick the reader, and both readers load that list."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from urllib.parse import urlparse

import pytest

from data_wrangle_openstreetmaps_data_spark.sources import osm, pbf
from tests.pbf_encoder import encode_pbf
from tests.test_pbf import NODES, RELATIONS, WAYS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KINDS = ("node", "way", "relation")
XML = ('<osm><node id="{0}" lat="1.5" lon="2.5" user="u" uid="1" '
       'version="1"><tag k="a" v="b"/></node>'
       '<way id="{1}"><nd ref="{0}"/></way></osm>')


def _write(path: str, data: bytes | str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb" if isinstance(data, bytes) else "w") as f:
        f.write(data)
    return path


def _pbf_segments(n: int) -> list[bytes]:
    """``n`` PBF files of the test elements, ids apart per file."""
    return [
        encode_pbf([dict(e, id=e["id"] + i * 10**9) for e in NODES],
                   [dict(e, id=e["id"] + i * 10**9) for e in WAYS],
                   [dict(e, id=e["id"] + i * 10**9) for e in RELATIONS])
        for i in range(n)
    ]


def _rows(df) -> list[dict]:
    return sorted((r.asDict(recursive=True) for r in df.collect()),
                  key=lambda e: (e["type"], e["id"]))


def _decoded(*datas: bytes) -> list[dict]:
    return sorted((e for d in datas for e in pbf.decode_pbf_bytes(d)),
                  key=lambda e: (e["type"], e["id"]))


def test_zipped_pbf_reads_through_osmpbf(spark, tmp_path):
    (data,) = _pbf_segments(1)
    src = _write(str(tmp_path / "src" / "one.osm.pbf"), data)
    zip_path = str(tmp_path / "one.osm.pbf.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.write(src, arcname="one.osm.pbf")
    df = osm.read_osm(spark, zip_path, KINDS)
    assert _rows(df) == _decoded(data)


def test_directory_of_pbf_files_reads_every_file(spark, tmp_path):
    datas = _pbf_segments(3)
    for i, d in enumerate(datas):
        _write(str(tmp_path / "pbfs" / f"part_{i}.osm.pbf"), d)
    # Spark's file index skips these; so does the front door
    _write(str(tmp_path / "pbfs" / "_SUCCESS"), b"")
    _write(str(tmp_path / "pbfs" / ".part_0.osm.pbf.crc"), b"\x00")
    df = osm.read_osm(spark, str(tmp_path / "pbfs"), KINDS)
    assert _rows(df) == _decoded(*datas)
    assert df.rdd.getNumPartitions() == 3  # one OSMData blob per file


@pytest.mark.parametrize("pattern", ["nothing_*.osm", "nothing_*.osm.pbf",
                                     "missing.osm.pbf"])
def test_unmatched_input_raises_file_not_found(spark, tmp_path, pattern):
    path = str(tmp_path / pattern)
    with pytest.raises(FileNotFoundError, match="nothing_|missing"):
        osm.read_osm(spark, path)


def test_mixed_pbf_and_xml_files_raise(spark, tmp_path):
    (data,) = _pbf_segments(1)
    _write(str(tmp_path / "mixed" / "a.osm.pbf"), data)
    _write(str(tmp_path / "mixed" / "b.osm"), XML.format(1, 2))
    with pytest.raises(ValueError, match=r"both \.pbf and other files"):
        osm.read_osm(spark, str(tmp_path / "mixed"))


def test_xml_glob_and_directory_read_exactly_the_shards(spark, tmp_path):
    shards = [
        _write(str(tmp_path / "xml" / f"part_{i}.osm"), XML.format(i, 100 + i))
        for i in range(3)
    ]
    _write(str(tmp_path / "xml" / "_SUCCESS"), "")
    for path in (str(tmp_path / "xml" / "part_*.osm"), str(tmp_path / "xml")):
        df = osm.read_osm(spark, path)
        assert sorted(urlparse(u).path for u in df.inputFiles()) == shards
        assert df.count() == 6


def test_pbf_reads_on_a_session_that_is_not_the_active_one(spark, tmp_path):
    (data,) = _pbf_segments(1)
    path = _write(str(tmp_path / "shared.osm.pbf"), data)
    first = _rows(osm.read_osm(spark, path, KINDS))
    assert first == _decoded(data)
    assert _rows(osm.read_osm(spark.newSession(), path, KINDS)) == first


def test_pbf_read_needs_no_pythonpath_outside_the_repo_root(tmp_path):
    """A script run from another directory, with no PYTHONPATH, that puts
    the repo root on its own sys.path only: the Python workers that
    decode PBF blobs must still import the package."""
    (data,) = _pbf_segments(1)
    path = _write(str(tmp_path / "one.osm.pbf"), data)
    script = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n"
        "from data_wrangle_openstreetmaps_data_spark.session import get_spark\n"
        "from data_wrangle_openstreetmaps_data_spark.sources import osm\n"
        "spark = get_spark('outside', master='local[1]', shuffle_partitions=1)\n"
        f"print('rows', osm.read_osm(spark, {path!r}).count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    want = sum(e["type"] in ("node", "way") for e in pbf.decode_pbf_bytes(data))
    assert f"rows {want}" in out.stdout.splitlines()


def test_pbf_reads_on_a_plain_session_outside_the_repo_root(tmp_path):
    """The same script on a session built straight from
    ``SparkSession.builder``, so no engine config puts the package on the
    workers' PYTHONPATH: the PBF decoder still runs, shipped by value."""
    (data,) = _pbf_segments(1)
    path = _write(str(tmp_path / "one.osm.pbf"), data)
    script = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from data_wrangle_openstreetmaps_data_spark.sources import osm\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        f"print('rows', osm.read_osm(spark, {path!r}).count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    want = sum(e["type"] in ("node", "way") for e in pbf.decode_pbf_bytes(data))
    assert f"rows {want}" in out.stdout.splitlines()
