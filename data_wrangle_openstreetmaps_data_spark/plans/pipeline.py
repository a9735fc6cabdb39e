"""End-to-end wrangle pipeline — the ``wrangle_maps`` equivalent
(openstreet_kolkata.py:657-683), Spark-first.

Reference shape: 6 sequential full re-parses of the same XML file (4
audits + clean + reshape), driver-side dict accumulators, then row-at-a-
time Mongo inserts and server-side query pipelines (SURVEY.md §3.1).

Spark shape: ONE cached raw-elements DataFrame feeds every audit. The
clean step is a few narrow projections (``clean_tags``), built once and
shared by the post-clean audits and the reshape; the reshape is one
narrow ``select`` over the cleaned tags (no shuffle), planned only when
a sink is written or the caller reads ``docs``, as the reference
reshapes only when it writes. Sinks are bulk writes; queries are
DataFrame aggregations on the reshaped store, planned on the same
terms.
``df.cache()`` replaces the 6-scan pattern — at 100 TB you'd swap
cache() for a persisted bronze table, which is the same plan with a
different storage level.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_wrangle_openstreetmaps_data_spark.functions import cleaning
from data_wrangle_openstreetmaps_data_spark.operators import audit as audit_ops
from data_wrangle_openstreetmaps_data_spark.operators import reshape
from data_wrangle_openstreetmaps_data_spark.operators.reshape import shape_elements
from data_wrangle_openstreetmaps_data_spark.operators.topk import topk_group_count
from data_wrangle_openstreetmaps_data_spark.sources import json_sink, osm


@dataclass
class WrangleResult:
    """What one wrangle built: the cached source, the audits, and the
    cleaned frame both sit on. ``docs`` and ``queries`` are planned on
    first read, at most once each, so an audit-only wrangle plans no
    reshape and no query."""

    raw: DataFrame
    audits: dict[str, DataFrame]
    cleaned: DataFrame

    @cached_property
    def docs(self) -> DataFrame:
        """The reshaped documents: one narrow select over ``cleaned``."""
        return shape_elements(self.cleaned, clean=False)

    @cached_property
    def queries(self) -> dict[str, DataFrame]:
        """The five store queries over ``docs``; ``wrangle_maps`` sets
        them over the store when it writes one."""
        return store_queries(self.docs)


def _tag_rows(df: DataFrame) -> DataFrame:
    """(type, k, v), one row per tag; an element without tags keeps one
    row with null k and v."""
    return df.select("type", F.explode_outer("tags").alias("t")).select(
        "type", F.col("t.k").alias("k"), F.col("t.v").alias("v")
    )


def _address_audits(tag_rows: DataFrame, suffix: str = "") -> dict[str, DataFrame]:
    """The street-type and city-name audits over (type, k, v) tag rows."""
    return {
        f"street_types{suffix}": audit_ops.audit_street_types(
            tag_rows.filter(F.col("k") == "addr:street").select(
                F.col("v").alias("street")
            )
        ),
        f"city_names{suffix}": audit_ops.audit_city_names(
            tag_rows.filter(F.col("k") == "addr:city").select(
                F.col("v").alias("city")
            )
        ),
    }


def wrangle_maps(
    spark: SparkSession,
    osm_path: str,
    out_json: str | None = None,
    out_store: str | None = None,
) -> WrangleResult:
    """audit → clean+reshape → sink → query, one cached scan. Without a
    sink only the audits are planned; the reshape and the queries wait
    for the first read of ``docs`` or ``queries``."""
    raw = osm.read_osm(spark, osm_path).cache()

    exploded_tags = _tag_rows(raw)

    audits = {
        # audit_tags (openstreet_kolkata.py:97-101)
        "tags": audit_ops.count_tags(raw, "type"),
        # audit_keys (:130-137)
        "keys": audit_ops.audit_keys_wide(
            exploded_tags.filter(F.col("k").isNotNull()), "k"
        ),
        # audit_users (:149-166)
        "users": audit_ops.audit_users(raw),
        # audit_addresses (:351-354)
        **_address_audits(exploded_tags),
        "postcodes": audit_ops.audit_postcodes(
            exploded_tags.filter(cleaning.is_postcode_key("k"))
        ),
    }

    # clean phase (openstreet_kolkata.py:665): audits re-run over cleaned
    # values — the reference re-parses + re-cleans; here the cleaned frame
    # is built once over the cached scan and the reshape reuses it
    cleaned = reshape.clean_tags(raw)
    audits.update(_address_audits(_tag_rows(cleaned), "_after_clean"))

    res = WrangleResult(raw=raw, audits=audits, cleaned=cleaned)
    if out_json:
        json_sink.write_json(res.docs, out_json)
    if out_store:
        json_sink.write_store(res.docs, out_store)
        # Query the MATERIALIZED store, as listed right after this write:
        # each query is then a pruned parquet scan (+ partition pruning on
        # type) instead of re-evaluating the clean+reshape expressions
        # over the cached raw per query — measured 15.1s → 1.4s for the
        # 5-query reference set at the 560k-doc pipeline scale (PERF.md).
        # This is also the production shape: analytics read the silver
        # table, not the ingest expression.
        res.queries = store_queries(json_sink.read_store(spark, out_store))
    return res


def store_queries(docs: DataFrame) -> dict[str, DataFrame]:
    """The reference's five report queries over the reshaped docs, by
    name (query_data, openstreet_kolkata.py:596-655)."""
    tags = F.col("tags")
    return {
        "unique_users": audit_ops.distinct_count(docs, "created.user"),
        "type_counts": docs.groupBy("type").agg(
            F.count(F.lit(1)).alias("cnt")
        ),
        "amenity_counts": docs.groupBy(
            tags.getItem("amenity").alias("amenity")
        ).agg(F.count(F.lit(1)).alias("cnt")),
        "top_shops": topk_group_count(
            docs.filter(F.col("type") == "node").select(
                tags.getItem("shop").alias("shop")
            ),
            "shop",
            k=10,
            require_col="shop",
        ),
        "top_highways": topk_group_count(
            docs.filter(F.col("type") == "way").select(
                tags.getItem("highway").alias("highway")
            ),
            "highway",
            k=10,
            require_col="highway",
        ),
    }


def main(argv: list[str] | None = None) -> None:
    """CLI mirroring the reference's __main__ (openstreet_kolkata.py:694-702):

        python -m data_wrangle_openstreetmaps_data_spark.plans.pipeline \\
            <osm_file_or_glob> [out_dir]

    Prints each audit and query result (the reference pprints its
    accumulators); writes JSON-lines + parquet store when out_dir given.
    """
    import sys

    from data_wrangle_openstreetmaps_data_spark.session import get_spark

    args = sys.argv[1:] if argv is None else argv
    if not args:
        print(__doc__)
        raise SystemExit(2)
    osm_path = args[0]
    out_dir = args[1] if len(args) > 1 else None
    spark = get_spark("wrangle-maps")
    spark.sparkContext.setLogLevel("ERROR")
    res = wrangle_maps(
        spark,
        osm_path,
        out_json=f"{out_dir}/docs_json" if out_dir else None,
        out_store=f"{out_dir}/docs_store" if out_dir else None,
    )
    for name, df in res.audits.items():
        print(f"\n== audit: {name}")
        df.show(20, truncate=False)
    for name, df in res.queries.items():
        print(f"\n== query: {name}")
        df.show(20, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
