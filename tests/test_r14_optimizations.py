"""Pins for the r14 optimization internals.

1. The narrow-key members join (xxhash64 class keys) produces EXACTLY
   the member→rep mapping of the raw-key join it replaced, for both
   collapse paths (embedding vectors and normalized text).
2. The collision audit is a real guard: when two DISTINCT class keys
   are forced onto one hash (monkeypatched _class_hash), the query
   raises instead of silently merging classes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_wrangle_openstreetmaps_data_spark import catalog
from data_wrangle_openstreetmaps_data_spark.functions.text import normalize_ws
from data_wrangle_openstreetmaps_data_spark.operators import dedup

SF = "/root/testdata/sf0.001"


def test_embedding_members_hash_join_equals_raw_join(spark):
    emb = catalog.table(spark, SF, "embeddings")
    classes = emb.groupBy(F.col("embedding").alias("_v")).agg(
        F.min("vec_id").alias("rep"), F.count(F.lit(1)).alias("csize")
    )
    raw = (
        emb.select(F.col("vec_id").alias("m_id"), F.col("embedding").alias("_v"))
        .join(classes, "_v")
        .select("m_id", "rep")
    )
    hashed = (
        emb.filter(F.col("embedding").isNotNull())
        .select(
            F.col("vec_id").alias("m_id"),
            dedup._class_hash(F.col("embedding")).alias("_h"),
        )
        .join(dedup._class_keys(classes, "_v"), "_h")
        .select("m_id", "rep")
    )
    assert sorted(map(tuple, raw.collect())) == sorted(
        map(tuple, hashed.collect())
    )


def test_text_members_hash_join_equals_raw_join(spark):
    docs = catalog.table(spark, SF, "documents")
    norm = docs.select(
        F.col("doc_id").alias("m_id"), normalize_ws("text").alias("_nt")
    )
    classes = norm.groupBy("_nt").agg(
        F.min("m_id").alias("rep"), F.count(F.lit(1)).alias("csize")
    )
    raw = norm.join(classes, "_nt").select(
        "m_id", "rep", (F.col("_nt") != "").alias("_ne")
    )
    hashed = (
        norm.filter(F.col("_nt").isNotNull())
        .select("m_id", dedup._class_hash(F.col("_nt")).alias("_h"))
        .join(
            dedup._class_keys(
                classes, "_nt", [(F.col("_nt") != "").alias("_ne")]
            ),
            "_h",
        )
        .select("m_id", "rep", "_ne")
    )
    assert sorted(map(tuple, raw.collect())) == sorted(
        map(tuple, hashed.collect())
    )


def test_class_keys_raises_on_forced_collision(spark, monkeypatch):
    """Two distinct class keys forced onto ONE hash value must abort the
    query (raise_error in the guard), never silently merge classes."""
    monkeypatch.setattr(dedup, "_class_hash", lambda col: F.lit(7).cast("long"))
    classes = spark.createDataFrame(
        [("alpha", 1, 2), ("beta", 3, 1)], ["_nt", "rep", "csize"]
    )
    ckeys = dedup._class_keys(classes, "_nt")
    with pytest.raises(Exception, match="collision"):
        ckeys.collect()


def test_class_keys_guard_survives_column_pruning(spark, monkeypatch):
    """The guard sits in the ``_h`` join key, so a consumer that keeps
    only ``_h`` (a semi-join-style caller) cannot prune it away."""
    classes = spark.createDataFrame(
        [("alpha", 1, 2), ("beta", 3, 1)], ["_nt", "rep", "csize"]
    )
    plan = (
        dedup._class_keys(classes, "_nt")
        .select("_h")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "raise_error(" in plan
    monkeypatch.setattr(dedup, "_class_hash", lambda col: F.lit(7).cast("long"))
    with pytest.raises(Exception, match="collision"):
        dedup._class_keys(classes, "_nt").select("_h").collect()


def test_class_keys_drops_null_keys(spark):
    """NULL class keys never join in the raw-key form (SQL equality);
    the hash form must preserve that by filtering them out."""
    classes = spark.createDataFrame(
        [("alpha", 1, 2), (None, 3, 1)], ["_nt", "rep", "csize"]
    )
    rows = dedup._class_keys(classes, "_nt").collect()
    assert [r["rep"] for r in rows] == [1]


def test_q1_floor_mu_units_equal_decimal_form(spark):
    """q_tpch_q1's floor-trick µ-unit sums must stay value-identical to
    the decimal(20,6)-cast form they replaced (the r13 sf1 correctness
    semantics). Grid argument in the query docstring; this pins it at
    sf0.001 so a regression fails pytest, scripts/ab_q1_forms.py covers
    the other three SFs."""
    from pyspark.sql import functions as F

    from data_wrangle_openstreetmaps_data_spark.plans.queries.tpch import (
        q_tpch_q1,
    )

    li = catalog.table(spark, SF, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))

    def mu_dec(c):
        return F.sum(
            (c.cast("decimal(20,6)") * 1000000).cast("long")
        ) / F.lit(1000000.0)

    def mu_floor(c):
        return F.sum(
            F.floor(c * 1000000 + F.lit(0.5)).cast("long")
        ) / F.lit(1000000.0)

    agg = li.agg(
        *[
            f(c).alias(f"{n}_{t}")
            for n, c in [
                ("qty", F.col("l_quantity")),
                ("price", F.col("l_extendedprice")),
                ("disc", disc_price),
                ("charge", charge),
            ]
            for t, f in [("dec", mu_dec), ("floor", mu_floor)]
        ]
    ).collect()[0]
    for n in ("qty", "price", "disc", "charge"):
        assert agg[f"{n}_dec"] == agg[f"{n}_floor"], n
    # and the shipped query still runs
    assert q_tpch_q1(spark, SF).count() > 0
