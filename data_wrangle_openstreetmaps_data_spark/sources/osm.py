"""OSM XML source (SURVEY.md §2.1 S1/S2).

The reference streams OSM XML through a SAX parser one element at a time
(ET.iterparse call sites, openstreet_kolkata.py:60,90,133,152,333,572) and
hand-extracts .bz2 archives to disk first (find_file,
openstreet_kolkata.py:15-35).

Spark-first replacements:
- S1 (archive handling) is a NO-OP: Hadoop codecs decompress ``.bz2``
  transparently inside the scan, and bzip2 is a *splittable* codec, so a
  100 TB planet file still fans out across executors. No extract step, no
  temp copies.
- S2 (streaming parse) is the native Spark 4 XML datasource
  (``spark.read.format("xml")``): the file is split into per-rowTag
  partitions and parsed in parallel — the "event stream" becomes a
  partitioned scan with column pruning.

``read_elements`` normalizes the datasource's attribute-prefixed schema to
the engine's raw element schema (FIXTURES.md §1/§2):

    id type lat lon visible version changeset timestamp user uid : string
    tags: array<struct<k,v>>       nds: array<struct<ref>>
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ATTRS = ("id", "lat", "lon", "visible", "version", "changeset",
         "timestamp", "user", "uid")


def _xml_schema(element_type: str) -> T.StructType:
    """Explicit read schema per rowTag. Three reasons over inference:
    1. speed — inference is an extra full scan of every file;
    2. determinism — inference yields `tag` as struct (not array) when no
       row has 2 tags, bigint ids, TimestampType timestamps: all
       data-dependent (exactly the nondeterminism SURVEY.md §1.3 warns on);
    3. fidelity — the reference keeps ids/versions/timestamps as STRINGS
       (golden doc openstreet_kolkata.py:541-553); an inferred Timestamp
       would re-format them."""
    fields = [
        T.StructField("_id", T.StringType()),
        T.StructField("_visible", T.StringType()),
        T.StructField("_version", T.StringType()),
        T.StructField("_changeset", T.StringType()),
        T.StructField("_timestamp", T.StringType()),
        T.StructField("_user", T.StringType()),
        T.StructField("_uid", T.StringType()),
        T.StructField(
            "tag",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("_k", T.StringType()),
                        T.StructField("_v", T.StringType()),
                    ]
                )
            ),
        ),
    ]
    if element_type == "node":
        fields += [
            T.StructField("_lat", T.StringType()),
            T.StructField("_lon", T.StringType()),
        ]
    if element_type == "way":
        fields.append(
            T.StructField(
                "nd",
                T.ArrayType(
                    T.StructType([T.StructField("_ref", T.StringType())])
                ),
            )
        )
    if element_type == "relation":
        fields.append(
            T.StructField(
                "member",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("_type", T.StringType()),
                            T.StructField("_ref", T.StringType()),
                            T.StructField("_role", T.StringType()),
                        ]
                    )
                ),
            )
        )
    return T.StructType(fields)


def _norm(df: DataFrame, element_type: str) -> DataFrame:
    """Map the XML datasource's raw schema to the engine's element schema,
    tolerating absent attributes/children (they become NULL columns)."""
    cols = {f.name for f in df.schema.fields}

    def attr(name: str):
        raw = f"_{name}"
        if raw in cols:
            return F.col(raw).cast("string").alias(name)
        return F.lit(None).cast("string").alias(name)

    if "tag" in cols:
        tags = F.transform(
            "tag",
            lambda t: F.struct(
                t["_k"].cast("string").alias("k"),
                t["_v"].cast("string").alias("v"),
            ),
        ).alias("tags")
    else:
        tags = F.lit(None).cast("array<struct<k:string,v:string>>").alias("tags")

    if "nd" in cols:
        nds = F.transform(
            "nd", lambda n: F.struct(n["_ref"].cast("string").alias("ref"))
        ).alias("nds")
    else:
        nds = F.lit(None).cast("array<struct<ref:string>>").alias("nds")

    member_type = "array<struct<mtype:string,ref:string,role:string>>"
    if "member" in cols:
        members = F.transform(
            "member",
            lambda m: F.struct(
                m["_type"].cast("string").alias("mtype"),
                m["_ref"].cast("string").alias("ref"),
                m["_role"].cast("string").alias("role"),
            ),
        ).alias("members")
    else:
        members = F.lit(None).cast(member_type).alias("members")

    return df.select(
        attr("id"),
        F.lit(element_type).alias("type"),
        *[attr(a) for a in ATTRS if a != "id"],
        tags,
        nds,
        members,
    )


def read_elements(
    spark: SparkSession, path: str, element_type: str,
    infer_schema: bool = False,
) -> DataFrame:
    """One DataFrame per element type ('node' | 'way' | 'relation').

    Explicit schema by default (see ``_xml_schema``); pass
    ``infer_schema=True`` only for exploratory reads of unknown shapes —
    inference costs an extra full scan and its result is data-dependent
    (a single <tag> child arrives as struct, not array)."""
    reader = (
        spark.read.format("xml")
        .option("rowTag", element_type)
        .option("attributePrefix", "_")
    )
    if not infer_schema:
        reader = reader.schema(_xml_schema(element_type))
    df = reader.load(path)
    # normalize single-child structs to arrays (inference-mode quirk)
    for child in ("tag", "nd", "member"):
        if child in df.columns:
            dt = dict(df.dtypes)[child]
            if not dt.startswith("array"):
                df = df.withColumn(child, F.array(F.col(child)))
    return _norm(df, element_type)


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
    """S1 — archive-aware input resolution (reference ``find_file``,
    openstreet_kolkata.py:15-35).

    ``.bz2`` (and plain files) pass through untouched: the Hadoop bzip2
    codec decompresses inside the scan and is splittable, so there is no
    extract step (unlike the reference's temp-file decompression).
    ``.zip`` has no Hadoop read codec, so members are extracted ONCE into
    a cache directory keyed by (path, mtime, size) — repeat calls reuse
    the extraction — and the extracted directory is returned (Spark reads
    directories natively)."""
    if not path.endswith(".zip"):
        return path
    import hashlib
    import os
    import zipfile

    if cache_dir is None:
        cache_dir = os.path.join(
            os.path.dirname(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            ),
            ".tmp",
            "zip_cache",
        )
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
        import shutil
        import tempfile

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


def read_osm(spark: SparkSession, path: str,
             element_types: tuple[str, ...] = ("node", "way")) -> DataFrame:
    """Union of all requested element types in one raw-elements DataFrame —
    the analog of the reference's single iterparse stream filtered to
    node/way (openstreet_kolkata.py:153,334,466). Input may be a plain
    file/glob, a ``.bz2`` (in-scan codec), or a ``.zip`` (extract-once).
    ``.pbf`` inputs route through the ``osmpbf`` DataSource, the only
    PBF reader: ONE planet.pbf fans out per blob instead of per file,
    and the raw-elements schema is identical to the XML route (rows
    pinned against the pure-Python ``pbf.decode_pbf_bytes`` in
    tests/test_pbf_datasource.py), so every downstream consumer —
    audits, reshape, wrangle_maps — is format-agnostic."""
    path = resolve_input(path)
    if path.endswith(".pbf"):
        from data_wrangle_openstreetmaps_data_spark.sources import (
            pbf_datasource,
        )

        pbf_datasource.register(spark)
        raw = spark.read.format("osmpbf").load(path)
        return raw.filter(F.col("type").isin(*element_types))
    dfs = [read_elements(spark, path, t) for t in element_types]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out
