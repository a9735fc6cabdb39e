"""OSM ingest front door and XML source (SURVEY.md §2.1 S1/S2).

The reference streams OSM XML through a SAX parser one element at a time
(ET.iterparse call sites, openstreet_kolkata.py:60,90,133,152,333,572) and
resolves its input once, hand-extracting archives to disk first
(find_file, openstreet_kolkata.py:15-35).

Spark-first replacements:
- S1 (input resolution): ``read_osm`` is the one place that decides
  which files an input names. ``resolve_input`` extracts a ``.zip`` once
  into a cache; ``input_files`` then turns a path, glob or directory into
  a sorted file list with one Hadoop ``FileSystem`` walk on the driver,
  and both readers load that list. ``.bz2`` needs no extract step:
  Hadoop's codec decompresses it inside the scan, and bzip2 is
  *splittable*, so a 100 TB planet file still fans out across executors.
- S2 (streaming parse) is the native Spark 4 XML datasource
  (``spark.read.format("xml")``): the file is split into per-rowTag
  partitions and parsed in parallel — the "event stream" becomes a
  partitioned scan with column pruning. ``.pbf`` files go to
  ``pbf.read_pbf`` instead, which fans each file out by blob.

``RAW_SCHEMA`` is the engine's raw-elements schema (FIXTURES.md §1/§2),
declared here once for both ingest routes: ``read_elements`` reads every
rowTag with one XML schema derived from it and casts the children to it,
and the PBF route (``pbf.decode_block``, under ``pbf.read_pbf``) emits
its columns in it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _strings(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType()) for n in names])


# Every value stays a string, as the reference keeps ids, versions and
# timestamps (golden doc openstreet_kolkata.py:541-553); only ``type``,
# which the reader sets itself, is never null.
RAW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("type", T.StringType(), nullable=False),
        *_strings("lat", "lon", "visible", "version", "changeset",
                  "timestamp", "user", "uid").fields,
        T.StructField("tags", T.ArrayType(_strings("k", "v"))),
        T.StructField("nds", T.ArrayType(_strings("ref"))),
        T.StructField("members",
                      T.ArrayType(_strings("mtype", "ref", "role"))),
    ]
)

# raw-elements column -> its XML child element; every other column but
# ``type`` is an attribute of the element itself
_CHILDREN = {"tags": "tag", "nds": "nd", "members": "member"}


def _xml_field(f: T.StructField) -> T.StructField:
    """The XML datasource's view of one RAW_SCHEMA field: attributes
    carry the ``_`` prefix (a member's ``mtype`` is its ``type``
    attribute), children keep their element name."""
    if f.name in _CHILDREN:
        attrs = T.StructType([_xml_field(a) for a in f.dataType.elementType])
        return T.StructField(_CHILDREN[f.name], T.ArrayType(attrs))
    return T.StructField("_" + {"mtype": "type"}.get(f.name, f.name),
                         T.StringType())


# One explicit read schema for every rowTag, over inference, because
# inference is an extra full scan, and its result is data-dependent:
# `tag` arrives as a struct when no row has two, ids as bigint and
# timestamps as TimestampType (SURVEY.md §1.3). Attributes a rowTag
# lacks (a way's lat) read as null.
_XML_SCHEMA = T.StructType(
    [_xml_field(f) for f in RAW_SCHEMA.fields if f.name != "type"]
)


def read_elements(spark: SparkSession, path: str | list[str],
                  element_type: str) -> DataFrame:
    """One raw-elements DataFrame for one rowTag ('node' | 'way' |
    'relation'): the XML read cast to ``RAW_SCHEMA``, structs by
    position."""
    df = (
        spark.read.format("xml")
        .option("rowTag", element_type)
        .option("attributePrefix", "_")
        .schema(_XML_SCHEMA)
        .load(path)
    )
    return df.select(
        *[
            F.lit(element_type).alias(f.name) if f.name == "type"
            else F.col(_xml_field(f).name).cast(f.dataType).alias(f.name)
            for f in RAW_SCHEMA.fields
        ]
    )


def write_osm_sample(df: DataFrame, path: str, row_tag: str = "node",
                     root_tag: str = "osm") -> None:
    """S3 second half: persist sampled elements back to OSM-shaped XML
    (the reference wraps every-10th elements in an <osm> envelope,
    sample_elements openstreet_kolkata.py:67-77). Uses the native XML
    writer; one file per partition — coalesce(1) upstream for a single
    sample file if needed."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .option("attributePrefix", "_")
        .mode("overwrite")
        .save(path)
    )


def resolve_input(path: str, cache_dir: str | None = None) -> str:
    """S1 — archive handling (reference ``find_file``,
    openstreet_kolkata.py:15-35). A ``.zip`` has no Hadoop read codec, so
    its members are extracted ONCE into a cache directory (by default
    under the system temp directory) keyed by (path, mtime, size), and
    the extracted directory is returned; repeat calls reuse it. Any other
    path, ``.bz2`` included (an in-scan codec), is returned as is."""
    if not path.endswith(".zip"):
        return path
    import hashlib
    import os
    import shutil
    import tempfile
    import zipfile

    if cache_dir is None:
        cache_dir = os.path.join(tempfile.gettempdir(), "osm_zip_cache")
    key = hashlib.md5(
        f"{os.path.abspath(path)}|{os.path.getmtime(path)}|"
        f"{os.path.getsize(path)}".encode()
    ).hexdigest()[:16]
    dest = os.path.join(cache_dir, key)
    marker = os.path.join(dest, ".extracted")
    if not os.path.exists(marker):
        # extract into a private temp dir, then rename atomically: a
        # concurrent resolver can never observe (or scan) a
        # partially-extracted directory — whichever rename lands first
        # wins and the loser's copy is discarded
        os.makedirs(cache_dir, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f".{key}.", dir=cache_dir)
        try:
            with zipfile.ZipFile(path) as zf:
                zf.extractall(tmp)
            with open(os.path.join(tmp, ".extracted"), "w") as f:
                f.write("ok")
            try:
                os.rename(tmp, dest)
            except OSError:
                if os.path.exists(marker):
                    # lost the race: the winner's extraction is complete
                    # (rename is atomic), so just use it
                    shutil.rmtree(tmp, ignore_errors=True)
                elif os.path.isdir(dest):
                    # stale marker-less dest (interrupted legacy extract):
                    # replace it with the fresh complete copy instead of
                    # failing forever
                    shutil.rmtree(dest, ignore_errors=True)
                    os.rename(tmp, dest)
                else:
                    raise
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
    return dest


def input_files(spark: SparkSession, path: str) -> list[str]:
    """The sorted files a path, glob or directory names, found by one
    Hadoop ``FileSystem`` walk on the driver: glob matches, and every
    file under a matched directory. Entries named ``_…`` or ``.…`` are
    skipped, as Spark's file index skips them (``_SUCCESS``, the zip
    cache's ``.extracted`` marker). No match raises FileNotFoundError."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stack, files = list(fs.globStatus(hpath) or []), []
    while stack:
        status = stack.pop()
        if status.getPath().getName().startswith(("_", ".")):
            continue
        if status.isDirectory():
            stack += fs.listStatus(status.getPath())
        else:
            # a local file as a plain path, which the PBF reader opens
            files.append(status.getPath().toString().removeprefix("file:"))
    if not files:
        raise FileNotFoundError(f"no OSM input files match {path!r}")
    return sorted(files)


def read_osm(spark: SparkSession, path: str,
             element_types: tuple[str, ...] = ("node", "way")) -> DataFrame:
    """Union of all requested element types in one raw-elements DataFrame —
    the analog of the reference's single iterparse stream filtered to
    node/way (openstreet_kolkata.py:153,334,466).

    The one ingest front door: ``path`` (a file, glob, directory, ``.bz2``
    or ``.zip``) is resolved once to a file list (``resolve_input``, then
    ``input_files``), and the list picks the reader: all ``.pbf`` go to
    ``pbf.read_pbf`` (ONE planet.pbf fans out across tasks by blob), no
    ``.pbf`` to the XML datasource, and a mix raises ValueError. Both
    readers load that list and return exactly ``RAW_SCHEMA`` (PBF rows
    pinned against ``pbf.decode_pbf_bytes`` in tests/test_read_pbf.py),
    so every downstream consumer — audits, reshape, wrangle_maps — is
    format-agnostic. PBF framing that does not tile a file raises
    ValueError here, before any job runs."""
    files = input_files(spark, resolve_input(path))
    n_pbf = sum(f.endswith(".pbf") for f in files)
    if 0 < n_pbf < len(files):
        raise ValueError(
            f"{path!r} names both .pbf and other files; read them apart"
        )
    if n_pbf:
        from data_wrangle_openstreetmaps_data_spark.sources import pbf

        raw = pbf.read_pbf(spark, files)
        return raw.filter(F.col("type").isin(*element_types))
    dfs = [read_elements(spark, files, t) for t in element_types]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out
