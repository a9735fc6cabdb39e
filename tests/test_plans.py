"""Plan-regression guards: the physical plans we audited in PERF.md must
stay the plans we ship. These tests fail if a future change silently
introduces a shuffle, loses a pushdown, or drops the broadcast."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_wrangle_openstreetmaps_data_spark.catalog import table
from data_wrangle_openstreetmaps_data_spark.plans import queries as Q
from data_wrangle_openstreetmaps_data_spark.sources import json_sink
from tests.conftest import SF_SMALL

TMP = os.path.join(os.path.dirname(__file__), "..", ".tmp")


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_flagship_is_partial_topk_with_pruned_scan(spark):
    df = Q.REGISTRY["q_topk_group_count"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan      # no global sort
    assert "partial_count" in plan              # map-side combine
    assert "ReadSchema: struct<event_type:string>" in plan  # column pruning
    assert "PushedFilters: [IsNotNull(event_type)]" in plan


def test_star_join_broadcasts_dimensions(spark):
    df = Q.REGISTRY["q_join_resolve_refs"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the only hash shuffles are on the GROUP key (n_name) for the final
    # 25-row aggregate — never on a join key (the fact side never shuffles)
    import re

    keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert keys and all(k.startswith("n_name") for k in keys), keys


def test_filter_reaches_parquet_scan(spark):
    df = Q.REGISTRY["q_filter_eq"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan


def test_reshape_is_narrow(spark):
    # clean+reshape must stay a zero-shuffle map stage
    from data_wrangle_openstreetmaps_data_spark.sources.osm import RAW_SCHEMA
    from tests.test_reshape import _raw
    from data_wrangle_openstreetmaps_data_spark.operators.reshape import (
        shape_elements,
    )

    df = spark.createDataFrame(
        [_raw(id="1", type="node", user="u", tags=[])], RAW_SCHEMA
    )
    plan = _executed_plan(shape_elements(df))
    assert "Exchange" not in plan


def test_clean_is_staged_not_inlined(spark):
    # the clean step's intermediates are projected once each; inlining
    # them into every consumer grew the plan ~80x and planning by seconds
    from data_wrangle_openstreetmaps_data_spark.sources.osm import RAW_SCHEMA
    from tests.test_reshape import _raw
    from data_wrangle_openstreetmaps_data_spark.operators.reshape import (
        shape_elements,
    )

    df = spark.createDataFrame(
        [_raw(id="1", type="node", user="u", tags=[])], RAW_SCHEMA
    )
    clean = shape_elements(df, clean=True)._jdf.queryExecution()
    plain = shape_elements(df, clean=False)._jdf.queryExecution()
    assert len(clean.analyzed().toString()) <= 3 * len(
        plain.analyzed().toString()
    )
    # CollapseProject must not re-inline the staged columns
    assert clean.optimizedPlan().toString().count("regexp_extract") <= 16


def test_plan_summary_flagship(spark):
    from data_wrangle_openstreetmaps_data_spark.plans.introspect import (
        plan_summary,
    )

    df = Q.REGISTRY["q_topk_group_count"].spark(spark, SF_SMALL)
    s = plan_summary(df)
    assert s["parquet_scans"] >= 1
    assert s["nested_loop_joins"] == 0
    assert s["sort_merge_joins"] == 0


def test_tpch_q5_all_broadcast(spark):
    from data_wrangle_openstreetmaps_data_spark.plans.introspect import (
        plan_summary,
    )

    s = plan_summary(Q.REGISTRY["q_tpch_q5"].spark(spark, SF_SMALL))
    assert s["broadcast_joins"] == 5      # every dimension broadcast
    assert s["sort_merge_joins"] == 0
    assert s["nested_loop_joins"] == 0
    assert s["shuffles"] <= 2             # grouped aggregate only (AQE dup)


def test_range_join_is_hash_not_nested_loop(spark):
    from data_wrangle_openstreetmaps_data_spark.plans.introspect import (
        plan_summary,
    )

    s = plan_summary(Q.REGISTRY["q_range_join"].spark(spark, SF_SMALL))
    assert s["nested_loop_joins"] == 0    # bucketed equality join


def test_minhash_band_join_skew_split(spark):
    """Planted hot band signature: a block of identical documents all land
    in the same LSH band buckets, so the band self-join has one dominant
    key. AQE's skew-join splitting must activate (skew=true in the final
    plan) instead of leaving one straggler task with the whole hot key."""
    from data_wrangle_openstreetmaps_data_spark.operators import dedup

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        # force SMJ (no broadcast) and scale the skew thresholds down to
        # fixture size so the detector can fire
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2k"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k"
        )
        # enough partitions that the hot band key dominates its partition
        # (the conftest session uses 4, where every partition looks equal)
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        hot = "identical boilerplate document body repeated verbatim " * 3
        rows = [(i, hot) for i in range(300)]
        rows += [(1000 + i, f"filler doc {i} unique tokens {i * 3}")
                 for i in range(50)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        # collapse_exact=False: the r11 exact-dup collapse would fold the
        # 300 identical docs into ONE representative and the hot band key
        # would vanish before the join — this test pins AQE's skew-split
        # behavior of the RAW banding self-join (the path a corpus of
        # 300 NEAR-identical-but-distinct docs would still take)
        pairs = dedup.dedup_minhash_lsh(
            df, n_hashes=16, bands=4, shingle_k=3, threshold=0.9,
            collapse_exact=False,
        )
        plan = _executed_plan(pairs)
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_store_prunes(spark):
    docs = table(spark, SF_SMALL, "orders").select(
        "o_orderkey", F.col("o_orderstatus").alias("type")
    )
    store = os.path.join(TMP, "pruning_store")
    json_sink.write_store(docs, store, partition_by="type")
    read = json_sink.read_store(spark, store).filter(F.col("type") == "O")
    plan = _executed_plan(read)
    # partition pruning: only the type=O directory is scanned
    assert "PartitionFilters" in plan
    assert "type=O" in plan or "isnotnull(type" in plan
    n_all = json_sink.read_store(spark, store).count()
    n_o = read.count()
    assert 0 < n_o < n_all


# Freshness of the store handle (json_sink.read_store): whatever rewrote
# the store, the next read returns exactly the rows now committed there.
DOCS_A = [(1, "node", "a"), (2, "way", "b")]
DOCS_B = [(3, "node", "c"), (4, "way", "d"), (5, "way", "e")]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id long, type string, v string")


def _rows(df) -> list[tuple]:
    return sorted((r["id"], r["type"], r["v"]) for r in df.collect())


def test_store_handle_is_reused_until_write_store_overwrites(spark, tmp_path):
    p = str(tmp_path / "store")
    json_sink.write_store(_docs(spark, DOCS_A), p)
    first = json_sink.read_store(spark, p)
    assert json_sink.read_store(spark, p) is first
    assert _rows(first) == DOCS_A
    json_sink.write_store(_docs(spark, DOCS_B), p)
    assert _rows(json_sink.read_store(spark, p)) == DOCS_B


def test_store_handle_sees_an_overwrite_that_bypasses_write_store(
    spark, tmp_path
):
    """Same partition values before and after, so only the modification
    times in the root listing change."""
    p = str(tmp_path / "store")
    json_sink.write_store(_docs(spark, DOCS_A), p)
    assert _rows(json_sink.read_store(spark, p)) == DOCS_A
    _docs(spark, DOCS_B).write.mode("overwrite").partitionBy("type").parquet(p)
    assert _rows(json_sink.read_store(spark, p)) == DOCS_B


def test_store_handle_sees_appends(spark, tmp_path):
    p = str(tmp_path / "store")
    json_sink.write_store(_docs(spark, DOCS_A), p)
    assert _rows(json_sink.read_store(spark, p)) == DOCS_A
    json_sink.write_store(_docs(spark, DOCS_B[:1]), p, mode="append")
    assert _rows(json_sink.read_store(spark, p)) == sorted(
        DOCS_A + DOCS_B[:1])
    # an append outside write_store rewrites _SUCCESS and the partition
    # directories it adds files to
    _docs(spark, DOCS_B[1:]).write.mode("append").partitionBy("type").parquet(p)
    assert _rows(json_sink.read_store(spark, p)) == sorted(DOCS_A + DOCS_B)


def test_store_handle_sees_compaction(spark, tmp_path):
    p = str(tmp_path / "flat")
    json_sink.write_store(
        _docs(spark, DOCS_A + DOCS_B).repartition(4), p, partition_by=None)
    before = json_sink.read_store(spark, p)
    assert _rows(before) == sorted(DOCS_A + DOCS_B)
    old_files = set(before.inputFiles())
    stats = json_sink.compact_store(spark, p, target_rows_per_file=10)
    assert stats["files_after"] == 1 < stats["files_before"]
    after = json_sink.read_store(spark, p)
    assert _rows(after) == sorted(DOCS_A + DOCS_B)
    assert old_files.isdisjoint(after.inputFiles())


def test_store_without_success_marker_is_opened_on_every_call(spark, tmp_path):
    p = str(tmp_path / "store")
    json_sink.write_store(_docs(spark, DOCS_A), p)
    cached = json_sink.read_store(spark, p)
    os.remove(os.path.join(p, "_SUCCESS"))
    first = json_sink.read_store(spark, p)
    assert first is not cached
    assert json_sink.read_store(spark, p) is not first
    assert _rows(first) == DOCS_A
    _docs(spark, DOCS_B).write.mode("overwrite").partitionBy("type").parquet(p)
    os.remove(os.path.join(p, "_SUCCESS"))
    assert _rows(json_sink.read_store(spark, p)) == DOCS_B


def test_store_handle_is_per_session(spark, tmp_path):
    p = str(tmp_path / "store")
    json_sink.write_store(_docs(spark, DOCS_A), p)
    other = spark.newSession()
    mine = json_sink.read_store(spark, p)
    theirs = json_sink.read_store(other, p)
    assert theirs is not mine
    assert mine.sparkSession is spark and theirs.sparkSession is other
    assert json_sink.read_store(spark, p) is mine
    assert json_sink.read_store(other, p) is theirs
    assert _rows(theirs) == DOCS_A


def test_merged_read_surfaces_columns_appended_after_a_handle(spark, tmp_path):
    p = str(tmp_path / "store")
    json_sink.write_store(_docs(spark, DOCS_A[:1]), p)
    assert _rows(json_sink.read_store(spark, p)) == DOCS_A[:1]
    wider = spark.createDataFrame(
        [(2, "node", "b", 9.5)], "id long, type string, v string, score double")
    json_sink.write_store(wider, p, mode="append")
    merged = json_sink.read_store_merged(spark, p)
    assert merged is not json_sink.read_store_merged(spark, p)
    assert {r["id"]: (r["v"], r["score"]) for r in merged.collect()} == {
        1: ("a", None), 2: ("b", 9.5)}


def test_decontaminate_broadcasts_bench_side(spark):
    """The contamination check must stream the (huge) train side through a
    broadcast join against the (small) bench side — a sort-merge join here
    would shuffle the full train shingle table."""
    df = Q.REGISTRY["q_decontaminate"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_is_shuffle_free(spark):
    """Hash-Bernoulli sampling must ride the scan: a filter, no Exchange."""
    df = Q.REGISTRY["q_stratified_sample"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_gopher_quality_two_keyed_aggregations(spark):
    """Quality stats = exactly the two planned doc-keyed shuffles
    ((id,tok) counts → per-id rollup) — no joins, no extra exchanges."""
    df = Q.REGISTRY["q_gopher_quality"].spark(spark, SF_SMALL)
    # AQE plan strings repeat the tree under "== Initial Plan ==" —
    # assert on the final section only
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan
    assert "partial" in plan  # map-side combine on the first aggregation


def test_every_nth_has_no_global_row_window(spark):
    """q_sample_every_10th must stay the two-phase blocked rank: the only
    SinglePartition exchange feeds the #blocks-row offsets window, never
    the row-scale input. Guard: every window over the full input is
    partitioned (partitionBy _blk), and the single-partition side is
    joined back as a BroadcastExchange."""
    df = Q.REGISTRY["q_sample_every_10th"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan  # offsets come back broadcast
    lines = plan.splitlines()
    # the row-scale ranking window must be keyed by the block column —
    # a bare row_number() window (no partition key) is the global funnel
    rownum = [ln for ln in lines if "row_number()" in ln]
    assert rownum and all("_blk" in ln for ln in rownum), rownum
    # SinglePartition exchanges may only feed per-block TOTALS (a
    # HashAggregate on _blk below them), never the raw input rows
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            below = "\n".join(lines[i : i + 3])
            assert "HashAggregate(keys=[_blk" in below, below


def test_latest_per_key_is_partial_argmax_aggregate(spark):
    """q_latest_per_key must compact as an AGGREGATE (partial_max of the
    ordering struct BEFORE the exchange — map-side combine), never as a
    row_number window over the full event stream."""
    df = Q.REGISTRY["q_latest_per_key"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "partial_max(struct(" in plan, plan
    assert "row_number()" not in plan, plan


def test_tpch_q18_broadcasts_the_aggregated_side(spark):
    """The HAVING-filtered per-order aggregate (the ~0.3% qualifying
    keys) must be the broadcast side; orders/customer must not be the
    build of a shuffle join of the fact table."""
    df = Q.REGISTRY["q_tpch_q18"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "SortMergeJoin" not in plan, plan
    # the broadcast exchange below the first join must sit on top of the
    # sum_qty aggregate, not on a raw table scan of orders
    lines = plan.splitlines()
    bx = [i for i, ln in enumerate(lines) if "BroadcastExchange" in ln]
    assert bx, plan
    first_bx_below = "\n".join(lines[bx[0]: bx[0] + 6])
    assert "sum_qty" in first_bx_below or "l_quantity" in first_bx_below, (
        first_bx_below
    )


def test_hopping_window_is_generate_not_join(spark):
    """Sliding-window assignment must come out of the scan as a generate
    (explode of the per-event window list), never as a self-join."""
    df = Q.REGISTRY["q_hopping_window"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "Join" not in plan, plan
    assert "Expand" in plan or "Generate" in plan or "explode" in plan, plan


def test_equidepth_histogram_has_no_global_window(spark):
    """Bucket assignment must be the broadcast-boundaries comparison, not
    an ntile/row_number window over the globally sorted fact table."""
    df = Q.REGISTRY["q_equidepth_histogram"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    import re

    # NB: "percentile(" also ends in "ntile(" — require a word boundary
    assert not re.search(r"(?<![a-zA-Z_])ntile\(", plan), plan
    assert "row_number" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_chunk_dedup_shuffles_fingerprints_only(spark):
    """The chunk-dedup exchange must carry md5 fingerprints, never the
    document text column."""
    df = Q.REGISTRY["q_chunk_dedup"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln


def test_tpch_q7_fact_joins_dims_by_broadcast(spark):
    """Q7: supplier/customer/nation sides must all ride broadcasts (the
    fact table shuffles at most once, on the order key) and the two-nation
    pair filter must not degenerate into a cartesian product."""
    df = Q.REGISTRY["q_tpch_q7"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("SortMergeJoin") <= 1, plan


def test_tpch_q13_aggregates_orders_before_join(spark):
    """Q13: the per-customer order count must be a partial+final hash
    aggregate (map-side combine) feeding the join — never a row_number
    window or a join of raw orders rows followed by a count."""
    df = Q.REGISTRY["q_tpch_q13"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "partial_count" in plan, plan
    assert "row_number" not in plan, plan
    assert "Window" not in plan, plan


def test_tpch_q17_prunes_to_brand_via_broadcast(spark):
    """Q17: both the fact pass and the avg-quantity side must prune to the
    brand's parts through broadcast joins; no sort-merge join of the
    unfiltered fact table."""
    df = Q.REGISTRY["q_tpch_q17"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "EqualTo(p_brand,Brand#3)" in plan, plan


def test_tpch_q21_is_single_aggregate_rewrite(spark):
    """Q21: the EXISTS/NOT-EXISTS pair must run as ONE per-order
    distinct-supplier aggregate joined back — no cartesian product, no
    window, supplier names on a broadcast."""
    df = Q.REGISTRY["q_tpch_q21"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_tpch_q22_is_broadcast_scalar_plus_anti_join(spark):
    """Q22: the average balance is a 1-row broadcast nested-loop cross
    join and the dormancy check a left-anti join; the orders side must
    scan only the pruned o_custkey column."""
    df = Q.REGISTRY["q_tpch_q22"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "ReadSchema: struct<o_custkey:bigint,o_orderdate:timestamp_ntz>" in plan, plan


def test_kmv_distinct_min_k_is_blocked_two_phase(spark):
    """q_kmv_distinct's min-k must be the blocked two-phase rank: the
    window over the row-scale hash frame is partitioned by (group, __blk);
    only the ≤ n_blocks·k candidate survivors may hit a window keyed by
    the group alone."""
    df = Q.REGISTRY["q_kmv_distinct"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    lines = plan.splitlines()
    rownum = [ln for ln in lines if "row_number()" in ln]
    assert rownum, plan
    # phase-1 (the first window bottom-up == last in the printed tree)
    # must carry the block key
    assert any("__blk" in ln for ln in rownum), rownum
    assert "Exchange SinglePartition" not in plan, plan


def test_salted_join_spreads_hot_keys(spark):
    """q_salted_join must stay the demonstration it claims to be: a
    shuffled (non-broadcast) join whose hash partitioning includes the
    salt column, with the dimension side replicated by a Generate."""
    df = Q.REGISTRY["q_salted_join"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" not in plan, plan
    assert "Generate explode" in plan, plan
    import re

    assert "ShuffledHashJoin" in plan, plan
    join_lines = [
        ln for ln in plan.splitlines() if "ShuffledHashJoin" in ln
    ]
    assert all("salt" in ln for ln in join_lines), join_lines
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert any("user_id" in k and "salt" in k for k in keys), keys


def test_bucketed_join_query_has_no_join_shuffle(spark):
    """q_bucketed_join: the pre-bucketed sort-merge join must read
    co-located buckets — no hashpartitioning exchange on the join key;
    the only exchange is the final 5-row priority aggregate."""
    df = Q.REGISTRY["q_bucketed_join"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan


def test_scd2_windows_are_user_keyed(spark):
    """q_scd2_intervals: every window must partition by user_id — a bare
    (unpartitioned) window over the event stream would be the global
    funnel."""
    df = Q.REGISTRY["q_scd2_intervals"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    lines = [ln for ln in plan.splitlines() if "Window " in ln or "Window[" in ln]
    assert lines, plan
    assert all("user_id" in ln for ln in lines), lines


def test_cms_build_is_generate_plus_partial_aggregate(spark):
    """The CMS build must be one Generate (probe fan-out) feeding a
    partial+final hash aggregate — map-side combine bounds the shuffle at
    depth×width rows per partition."""
    from data_wrangle_openstreetmaps_data_spark.operators.sketch import (
        cms_build,
    )

    ev = table(spark, SF_SMALL, "events")
    plan = _executed_plan(cms_build(ev, "user_id", depth=4, width=64))
    assert "Generate explode" in plan, plan
    assert "partial_count" in plan, plan
    assert "Join" not in plan, plan


def test_vocab_df_has_no_multidistinct_expand(spark):
    """q_vocab_df must stay the two-level aggregate — a COUNT(DISTINCT
    doc_id) alongside the tf sum would plan an Expand duplicating every
    (token, doc) row."""
    df = Q.REGISTRY["q_vocab_df"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "Expand" not in plan, plan
    assert "partial_count" in plan, plan


def test_store_compaction_preserves_content(spark, tmp_path):
    """compact_store: 32 small files → ceil(n/target) files, identical
    row multiset, atomic swap leaves no temp dirs behind."""
    import os

    from data_wrangle_openstreetmaps_data_spark.sources.json_sink import (
        compact_store,
    )

    p = str(tmp_path / "store")
    df = table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    df.repartition(32).write.parquet(p)
    before = {tuple(r) for r in spark.read.parquet(p).collect()}
    stats = compact_store(spark, p, target_rows_per_file=10_000)
    assert stats["files_before"] == 32
    expected = max(1, -(-stats["rows"] // 10_000))
    assert stats["files_after"] == expected, stats
    after = {tuple(r) for r in spark.read.parquet(p).collect()}
    assert after == before
    assert not os.path.exists(p + "_compacting")
    assert not os.path.exists(p + "_precompact")


def test_store_compaction_recovers_crashed_swap(spark, tmp_path):
    """A crash between the two swap renames leaves the store stranded
    under _precompact with no live path; re-running compact_store must
    restore it and compact normally (the documented recovery path)."""
    import os
    import shutil

    from data_wrangle_openstreetmaps_data_spark.sources.json_sink import (
        compact_store,
    )

    p = str(tmp_path / "store2")
    df = table(spark, SF_SMALL, "orders").select("o_orderkey")
    df.repartition(8).write.parquet(p)
    before = {tuple(r) for r in spark.read.parquet(p).collect()}
    # simulate: first rename done, second never happened; plus a stale
    # partial rewrite
    os.rename(p, p + "_precompact")
    os.makedirs(p + "_compacting")
    stats = compact_store(spark, p, target_rows_per_file=10_000)
    assert stats["files_before"] == 8
    after = {tuple(r) for r in spark.read.parquet(p).collect()}
    assert after == before
    assert not os.path.exists(p + "_compacting")
    assert not os.path.exists(p + "_precompact")
    shutil.rmtree(p, ignore_errors=True)


def test_store_schema_evolution_merges_footers(spark, tmp_path):
    """read_store_merged: files appended under a wider schema surface
    the new column; old files read NULL for it."""
    from data_wrangle_openstreetmaps_data_spark.sources.json_sink import (
        read_store_merged,
    )

    p = str(tmp_path / "evolve")
    spark.createDataFrame([(1, "a")], ["id", "v"]).write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], ["id", "v", "score"]
    ).write.mode("append").parquet(p)
    got = {r["id"]: (r["v"], r["score"]) for r in read_store_merged(
        spark, p
    ).collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}


def test_robust_json_read_quarantines_corrupt_lines(spark, tmp_path):
    """read_json_robust: malformed lines land in the quarantine frame
    verbatim; clean rows parse under the declared schema."""
    from pyspark.sql import types as T

    from data_wrangle_openstreetmaps_data_spark.sources.json_sink import (
        read_json_robust,
    )

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        '{"id": 2, "name": "also ok"}\n'
        '{"id": 3, "name": BROKEN}\n'
        "not json at all\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    clean, corrupt = read_json_robust(spark, str(p), schema)
    assert {(r["id"], r["name"]) for r in clean.collect()} == {
        (1, "ok"),
        (2, "also ok"),
    }
    bad = [r["raw_line"] for r in corrupt.collect()]
    assert len(bad) == 2 and "not json at all" in bad


def test_dynamic_partition_pruning_fires_on_partitioned_store(spark, tmp_path):
    """Joining a type-partitioned store against a filtered dimension must
    plan a dynamicpruning PartitionFilter — at 100 TB the fact scan reads
    only the partitions the dim's surviving keys name, discovered at
    RUNTIME (the dim filter may not be a literal)."""
    p = str(tmp_path / "dpp_store")
    ev = table(spark, SF_SMALL, "events").select(
        "event_id", "event_type", "value"
    )
    ev.write.partitionBy("event_type").mode("overwrite").parquet(p)
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2)], ["event_type", "flag"]
    ).filter(F.col("flag") == 1)
    j = (
        spark.read.parquet(p)
        .join(dim, "event_type")
        .groupBy("event_type")
        .count()
    )
    plan = _executed_plan(j)
    assert "dynamicpruning" in plan.lower(), plan


def test_rfm_and_concentration_have_no_global_sort_on_customers(spark):
    """q_customer_rfm / q_revenue_concentration: bucket assignment must
    be the broadcast-boundaries comparison — no ntile, no row_number,
    no rangepartitioning (global sort) over the per-customer frame."""
    import re

    for name in ("q_customer_rfm", "q_revenue_concentration"):
        df = Q.REGISTRY[name].spark(spark, SF_SMALL)
        plan = _executed_plan(df)
        assert not re.search(r"(?<![a-zA-Z_])ntile\(", plan), name
        assert "row_number" not in plan, name
        assert "Exchange rangepartitioning" not in plan, name
        assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, name


def test_compact_store_refuses_partitioned_stores(spark, tmp_path):
    from data_wrangle_openstreetmaps_data_spark.sources.json_sink import (
        compact_store,
    )

    p = str(tmp_path / "pstore")
    table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).write.partitionBy("o_orderstatus").parquet(p)
    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_store(spark, p, target_rows_per_file=1000)


def test_dau_wau_is_fanout_dedup_not_window(spark):
    """q_dau_wau_stickiness must stay the fan-out + dedup rewrite: a
    Generate feeding distinct aggregates, with NO window operator (the
    sliding-distinct has no supported window form, and a per-day rescan
    join would show up as a range join)."""
    df = Q.REGISTRY["q_dau_wau_stickiness"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "Generate explode" in plan, plan
    assert "Window" not in plan, plan


def test_make_sfn_replication_preserves_joins(spark, tmp_path):
    """scripts/make_sfN.py must replicate with FK-consistent shifts:
    every joinable row stays joinable, so lineitem x orders inner join
    cardinality scales exactly by the factor."""
    import subprocess
    import sys

    out = str(tmp_path / "sf2x")
    r = subprocess.run(
        [sys.executable, "scripts/make_sfN.py", "2",
         "/root/testdata/sf0.001", out],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    li0 = table(spark, SF_SMALL, "lineitem")
    o0 = table(spark, SF_SMALL, "orders")
    base = li0.join(o0, li0["l_orderkey"] == o0["o_orderkey"]).count()
    li2 = spark.read.parquet(f"{out}/lineitem.parquet")
    o2 = spark.read.parquet(f"{out}/orders.parquet")
    got = li2.join(o2, li2["l_orderkey"] == o2["o_orderkey"]).count()
    assert got == 2 * base, (got, base)
    assert spark.read.parquet(f"{out}/nation.parquet").count() == 25


# Global-order-window triage (round 11): every registry query whose plan
# funnels rows through an Exchange SinglePartition under a Window+Sort
# must be on this allowlist with a justification naming the BOUNDED frame
# the window actually runs over. New entries require the same triage.
# Round 12: the justification is CHECKED, not prose — plan_audit.py
# executes every offender and records the measured rows entering each
# SinglePartition exchange; test below bounds the per-query max (default
# FUNNEL_INPUT_ROWS_BOUND at the audit SF, override via (text, bound)).
FUNNEL_INPUT_ROWS_BOUND = 10_000
GLOBAL_ORDER_WINDOW_ALLOWLIST = {
    # blocked two-phase prefix/rank: the funnel carries only the ≤#blocks
    # per-block TOTALS (HashAggregate(keys=[_blk]) below the exchange);
    # row-scale work stays partitioned by the block key
    "q_max_concurrency": "blocked totals (≤32 t-range blocks)",
    "q_sample_every_10th": "blocked totals (every_nth offsets)",
    "q_token_budget_select": "blocked totals (quality-grid blocks)",
    "q_seq_packing": "blocked totals (id div 100k blocks)",
    "q_skyline": "blocked survivors (per-block Pareto fronts)",
    "q_sequence_gaps": "blocked totals (gaps-and-islands blocks)",
    "q_quantile_sketch": "stride-sketch survivors (≤sketch size)",
    "q_streaming_quantile": "histogram bins (bounded grid)",
    # calendar grain: the window input is one row per day/month/hour of
    # the corpus span — grows with TIME RANGE, not with data rate
    "q_control_chart": "day grain (XmR moving range)",
    "q_cumulative_distinct": "day grain (new-users-per-day)",
    "q_forecast_backtest": "day grain (walk-forward folds)",
    "q_revenue_mom_growth": "month grain",
    "q_runs_test": "day grain (sign sequence)",
    "q_seasonal_decompose": "day grain (7-day centered MA)",
    "q_kaplan_meier": "hour grain (event-time buckets)",
    "q_backfill_plan": "day grain (failed-partition islands)",
    "q_bfs_frontier": "hop grain (≤4 rows: cumulative reach over hops)",
    # dimension/catalog grain: one row per catalog entity (brands, items,
    # nations) — the window never sees fact-table rows
    "q_abc_classification": "brand×type grain (catalog)",
    "q_recsys_exposure": "item grain (catalog Gini)",
    "q_apportionment": "nation grain (≤25 rows)",
    "q_raking": "nation×segment cell grid",
    # bounded value grids: histogram bins, threshold sweeps, file lists
    "q_auc": "score-histogram bins",
    "q_image_equalize": "256 intensity bins",
    "q_ks_test": "value-histogram grain (distinct cents)",
    "q_mann_whitney": "value-histogram grain (distinct cents)",
    "q_spearman_corr": "value-histogram grain (rank ties)",
    "q_dedup_threshold_sweep": "threshold grid",
    "q_compaction_plan": "file list (bin packing)",
    "q_layout_pruning": "64-file min-max index",
    "q_sort_clustering": "file-level stats",
}


def test_global_order_windows_are_allowlisted():
    """Registry-wide single-partition-exchange guard (r10 verdict #1):
    the newest committed PLANS_r*.json records, per query, how many
    Window-over-Sort-over-SinglePartition funnels the physical plan
    contains (introspect.count_global_sort_window_funnels). Every
    offender must be triaged into GLOBAL_ORDER_WINDOW_ALLOWLIST above —
    a new global-order window over a row-scale frame fails here until
    it is rewritten (blocked two-phase) or justified (bounded frame)."""
    import glob
    import json

    plans = sorted(glob.glob(os.path.join(
        os.path.dirname(__file__), "..", "PLANS_r*.json")))
    assert plans, "no PLANS_r*.json artifact committed"
    d = json.load(open(plans[-1]))
    assert "global_order_window_offenders" in d, (
        "newest PLANS artifact predates the funnel counter — regenerate "
        "with scripts/plan_audit.py"
    )
    offenders = set(d["global_order_window_offenders"])
    unjustified = offenders - set(GLOBAL_ORDER_WINDOW_ALLOWLIST)
    assert not unjustified, (
        f"global-order windows without a bounded-frame justification: "
        f"{sorted(unjustified)} — rewrite with the two-phase blocked "
        f"prefix sum (operators/curation._blocked_prefix_sum) or add a "
        f"justified allowlist entry"
    )
    stale = set(GLOBAL_ORDER_WINDOW_ALLOWLIST) - offenders
    assert not stale, (
        f"allowlist entries no longer offenders (prune them): {sorted(stale)}"
    )
    # Quantified justification (r11 verdict #6): the artifact must carry
    # the MEASURED rows entering each SinglePartition exchange for every
    # offender, and the max must sit under the declared bound — prose
    # like "nation grain" becomes a checked number.
    for name in sorted(offenders):
        entry = d["queries"][name]
        assert "funnel_input_rows" in entry, (
            f"{name}: offender without measured funnel_input_rows — "
            "regenerate PLANS with the round-12 plan_audit.py"
        )
        spec = GLOBAL_ORDER_WINDOW_ALLOWLIST[name]
        bound = spec[1] if isinstance(spec, tuple) else FUNNEL_INPUT_ROWS_BOUND
        got = entry["funnel_input_rows_max"]
        assert got <= bound, (
            f"{name}: {got} rows crossed a SinglePartition exchange at "
            f"the audit SF (bound {bound}) — the bounded-frame "
            "justification does not hold; rewrite with the blocked "
            "two-phase prefix sum"
        )


# Registry-wide single-partition-exchange bound (r12 verdict item 4):
# beyond the Window+Sort funnels above, EVERY query whose plan contains
# an Exchange SinglePartition — global limits, 1-row scalar aggregates,
# final ORDER BY of a small report — must carry measured input rows in
# the newest PLANS artifact and sit under the bound. Per-query overrides
# name the reason the default doesn't fit.
SINGLE_PARTITION_ROWS_BOUND = 10_000
SINGLE_PARTITION_ROWS_OVERRIDES: dict[str, tuple[str, int]] = {}


def test_all_single_partition_exchanges_bounded():
    """Every single-partition exchange in the registry is measured and
    bounded — closing the r12 gap where only the 56 window funnels (29
    queries) carried numbers and the remaining ~237 exchanges were
    presumed small but unchecked."""
    import glob
    import json

    plans = sorted(glob.glob(os.path.join(
        os.path.dirname(__file__), "..", "PLANS_r*.json")))
    assert plans, "no PLANS_r*.json artifact committed"
    d = json.load(open(plans[-1]))
    offenders = sorted(
        n
        for n, v in d["queries"].items()
        if "error" not in v and v.get("single_partition_exchanges", 0) > 0
    )
    if not any(
        "funnel_input_rows" in d["queries"][n]
        for n in offenders
        if n not in set(d.get("global_order_window_offenders", []))
    ):
        import pytest

        pytest.skip(
            "newest PLANS artifact predates the registry-wide exchange "
            "measurement — regenerate with the round-13 plan_audit.py"
        )
    for name in offenders:
        entry = d["queries"][name]
        assert "funnel_input_rows_error" not in entry, (
            f"{name}: measurement failed: {entry['funnel_input_rows_error']}"
        )
        assert "funnel_input_rows" in entry, (
            f"{name}: single-partition exchange without measured rows — "
            "regenerate PLANS with the round-13 plan_audit.py"
        )
        ov = SINGLE_PARTITION_ROWS_OVERRIDES.get(name)
        bound = ov[1] if ov else SINGLE_PARTITION_ROWS_BOUND
        got = entry["funnel_input_rows_max"]
        assert got <= bound, (
            f"{name}: {got} rows crossed an Exchange SinglePartition at "
            f"the audit SF (bound {bound}) — bound the frame or add a "
            "justified override"
        )


def test_pagerank_converged_fixed_point_and_lineage(spark):
    """q_pagerank_converged must actually CONVERGE (exact integer fixed
    point before the max_iters oracle horizon — the early-exit the
    absorbing-fixed-point oracle equality relies on for speed), and the
    per-iteration localCheckpoint must keep the final plan referencing
    checkpointed RDDs instead of re-expanding 14+ iterations of joins."""
    from data_wrangle_openstreetmaps_data_spark.operators import graph
    from data_wrangle_openstreetmaps_data_spark.plans.queries.graphs import (
        _PR_ITERS,
        _PR_SCALE,
    )

    edges = graph.copurchase_edges(
        table(spark, SF_SMALL, "lineitem"), table(spark, SF_SMALL, "orders")
    )
    ranks = graph.pagerank_converged(
        edges, damping_num=1, damping_den=4,
        scale=_PR_SCALE, max_iters=_PR_ITERS,
    )
    rows = ranks.collect()
    n_iters = rows[0]["n_iters"]
    assert 0 < n_iters < _PR_ITERS, (
        f"grid did not converge before the oracle horizon: {n_iters}"
    )
    # total grid mass is conserved up to floor losses: each node floors
    # twice per update (per-edge contribution + damping), and the fixed
    # point carries the steady-state deficit amplified by 1/(1-d) — ≤ ~3
    # units per node (measured: 2.3 at sf0.001)
    total = sum(r["rank_u"] for r in rows)
    assert 0 <= _PR_SCALE - total <= len(rows) * 4
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan  # checkpointed iterates, not lineage
    assert plan.count("FileScan parquet") == 0, plan.count(
        "FileScan parquet"
    )
