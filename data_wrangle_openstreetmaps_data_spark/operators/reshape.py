"""Reshape: raw OSM-shaped elements → nested documents (SURVEY.md §2.5).

The reference's ``shape_element`` (openstreet_kolkata.py:463-537; spec in
its docstring :364-449) converts one XML element dict at a time. Here the
reshape is native column expressions over a DataFrame with the raw
schema (FIXTURES.md §1/§2): the clean step (``clean_tags``) as a few
narrow projections, then the shape as one ``select``:

    id, lat, lon, visible, version, changeset, timestamp, user, uid: string
    type: string ('node'|'way')
    tags: array<struct<k:string, v:string>>     -- <tag> children
    nds:  array<struct<ref:string>>             -- <nd> children (ways)

Output schema (FIXTURES.md §3): id, type, visible, created struct,
pos array<double>, address map, tags map, node_refs array<string>.

Implementation notes:
- R1 created struct: openstreet_kolkata.py:453,477-480,527-528.
- R2 pos = [lat, lon] as doubles: openstreet_kolkata.py:483-487.
- R3 address map: addr:* keys, problemchars dropped (:503-504),
  addr:x:y (lower_colon remainder) dropped (:510-515).
- R4 residual tags map: non-addr keys incl. colons (:519-520).
- R5 node_refs: ordered refs from nd children (:523-526) — document order
  is preserved because the array column preserves element order; no sort,
  no window, no shuffle.
- R6 cleaning first (clean_address is invoked per element during reshape,
  :496): street/city values normalized, extracted house numbers lifted into
  address['housenumber'] (overwriting an existing one, :318-325 intent).
  Each cleaning intermediate is its own projected column, so the shape's
  several reads of the tags never copy the cleaning expressions.
- Validity gate (is_valid, :455-461): the reference's node/way check is a
  tautology bug; the intent — keep only node/way elements that have a user —
  is implemented.

The whole thing is narrow (no shuffle at all): at 100 TB this reshape is a
single map stage; the projections are evaluated row by row in one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_wrangle_openstreetmaps_data_spark.functions.cleaning import (
    LOWER_COLON_RE,
    PROBLEMCHARS_RE,
    fix_city_name,
    normalize_street_type,
    split_housenumber,
)

CREATED_FIELDS = ("version", "changeset", "timestamp", "user", "uid")


def _or_empty(tags: Column) -> Column:
    return F.coalesce(tags, F.array().cast("array<struct<k:string,v:string>>"))


# clean_tags' intermediate columns, one projection each; dropped on return
_STREET = "_clean_street"
_NORM_STREET = "_clean_norm_street"
_HOUSENUM = "_clean_housenum"
_STREET_REST = "_clean_street_rest"


def _entries_last_wins(entries: Column) -> Column:
    """Drop earlier duplicates of a key, keeping the LAST occurrence —
    the reference's dict-assignment semantics (node[key]=val overwrites,
    openstreet_kolkata.py:515,520). Explicit, so the reshape does not
    depend on the session's spark.sql.mapKeyDedupPolicy (default throws).
    O(tags²) per element, but tag lists are tiny."""
    return F.filter(
        entries,
        lambda e, i: ~F.exists(
            F.slice(entries, i + 2, F.size(entries)),
            lambda later: later["k"] == e["k"],
        ),
    )


def clean_tags(df: DataFrame) -> DataFrame:
    """clean_address semantics (openstreet_kolkata.py:305-326) over a tags
    array: fix the street value (type normalize + house-number split), fix
    city values, and lift an extracted house number into
    addr:housenumber. Also the standalone clean phase (clean_addresses,
    :356-359), so audits can run over post-clean values
    (audit_clean_addresses cleanup=True path).

    Each intermediate is its own projection, referenced by name from the
    next: the last addr:street value, its normalized form, then the
    (house number, remainder) pair. An intermediate read more than once
    is not cheap to inline, so CollapseProject keeps it a column instead
    of copying its expression into every consumer. The tags column comes
    back cleaned in place; the intermediates are dropped."""
    tags = F.col("tags")

    def fix_value(t: Column) -> Column:
        return F.struct(
            t["k"].alias("k"),
            F.when(t["k"] == "addr:street", F.col(_STREET_REST))
            .when(t["k"] == "addr:city", fix_city_name(t["v"]))
            .otherwise(t["v"])
            .alias("v"),
        )

    staged = (
        df.withColumn("tags", _or_empty(tags))
        # last addr:street value (dict last-wins semantics; no map build,
        # so duplicate keys can't trip the session's mapKeyDedupPolicy)
        .withColumn(_STREET, F.try_element_at(
            F.filter(tags, lambda t: t["k"] == F.lit("addr:street")),
            F.lit(-1),
        )["v"])
        .withColumn(_NORM_STREET, normalize_street_type(F.col(_STREET)))
        .withColumns(dict(zip(
            (_HOUSENUM, _STREET_REST), split_housenumber(F.col(_NORM_STREET))
        )))
        .withColumn("tags", F.transform(tags, fix_value))
    )
    # Lift the extracted house number: drop any pre-existing housenumber
    # entry, then append the lifted one (reference intent :318-325 —
    # overwrite).
    lifted = F.col(_HOUSENUM)
    without_hn = F.filter(tags, lambda t: t["k"] != F.lit("addr:housenumber"))
    existing_hn = F.filter(tags, lambda t: t["k"] == F.lit("addr:housenumber"))
    hn_entry = F.array(
        F.struct(F.lit("addr:housenumber").alias("k"), lifted.alias("v"))
    )
    return staged.withColumn(
        "tags",
        F.when(lifted.isNotNull(), F.concat(without_hn, hn_entry))
        .otherwise(F.concat(without_hn, existing_hn)),
    ).drop(_STREET, _NORM_STREET, _HOUSENUM, _STREET_REST)


def shape_elements(df: DataFrame, clean: bool = True) -> DataFrame:
    """Vectorized shape_element over a raw elements DataFrame; ``clean``
    first runs :func:`clean_tags` (clean_address inside shape_element,
    :496), so the select below reads the cleaned tags as one column."""
    if clean:
        # clean_tags already replaced a null tags list with []
        df = clean_tags(df)
        tags = F.col("tags")
    else:
        tags = _or_empty(F.col("tags"))

    # problemchars keys are ignored everywhere (:503-504)
    ok = F.filter(tags, lambda t: ~t["k"].rlike(PROBLEMCHARS_RE))

    addr = F.filter(ok, lambda t: t["k"].startswith("addr:"))
    addr_stripped = F.transform(
        addr,
        lambda t: F.struct(
            F.regexp_replace(t["k"], r"^addr:", "").alias("k"), t["v"].alias("v")
        ),
    )
    # drop addr:x:y — remainder still matching lower_colon (:510-515)
    addr_kept = F.filter(addr_stripped, lambda t: ~t["k"].rlike(LOWER_COLON_RE))
    address = F.map_from_entries(_entries_last_wins(addr_kept))

    residual = F.map_from_entries(
        _entries_last_wins(F.filter(ok, lambda t: ~t["k"].startswith("addr:")))
    )

    created = F.struct(*[F.col(f).alias(f) for f in CREATED_FIELDS])
    # try_cast: under ANSI mode (Spark 4 default) a malformed coordinate
    # would otherwise kill the whole ingest; bad values become NULL
    pos = F.array(
        F.col("lat").try_cast("double"), F.col("lon").try_cast("double")
    )

    shaped = (
        # validity gate: node/way with a user (is_valid intent, :455-461)
        df.filter(F.col("type").isin("node", "way") & F.col("user").isNotNull())
        .select(
            F.col("id"),
            F.col("type"),
            F.col("visible"),
            created.alias("created"),
            F.when(F.col("lat").isNotNull() & F.col("lon").isNotNull(), pos)
            .alias("pos"),
            F.when(F.size(address) > 0, address).alias("address"),
            F.when(F.size(residual) > 0, residual).alias("tags"),
            F.transform(F.col("nds"), lambda n: n["ref"]).alias("node_refs"),
        )
    )
    return shaped


def gaps_and_islands(
    df: DataFrame, idx_col: str, max_step: int
) -> DataFrame:
    """Coalesce integer indexes into contiguous ISLANDS: adds ``grp``
    (1-based island id over ascending ``idx_col``), breaking wherever
    the step between successive rows exceeds ``max_step``. The window
    runs over the (already filtered/aggregated) index rows — callers
    keep the frame bounded (q_backfill_plan: |failed days|; the
    registry-wide allowlist in tests/test_plans.py documents this).

    Contract (property-tested in tests/test_property.py):
    islands partition the input rows; within an island every
    consecutive step is <= max_step; between islands the step is
    > max_step (so the island count is MINIMAL for that rule)."""
    w = Window.orderBy(idx_col)
    return df.withColumn(
        "brk",
        F.when(
            F.lag(idx_col).over(w).isNull()
            | (F.col(idx_col) - F.lag(idx_col).over(w) > max_step),
            1,
        ).otherwise(0),
    ).withColumn(
        "grp",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("brk")
