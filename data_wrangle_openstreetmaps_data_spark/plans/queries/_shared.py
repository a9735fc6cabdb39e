"""Shared constants, fixture builders, and oracle-SQL helper
fragments used by every query-family module in this package.
Star-importable: ``__all__`` deliberately includes the
underscore-prefixed oracle fragments.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_wrangle_openstreetmaps_data_spark import catalog
from data_wrangle_openstreetmaps_data_spark.catalog import table
from data_wrangle_openstreetmaps_data_spark.functions import cleaning, text
from data_wrangle_openstreetmaps_data_spark.operators import (
    audit,
    curation,
    dedup,
    join as join_ops,
    sample,
    similarity,
    topk,
)

__all__ = [
    "_mat",
    "DIRTY_STREETS",
    "DIRTY_CITIES",
    "DIRTY_POSTCODES",
    "AMENITIES",
    "EVENT_TYPES",
    "_pick",
    "_sql_pick",
    "_sql_case_map",
    "_sql_regex",
    "PROB_SQL",
    "LOWER_SQL",
    "LOWER_COLON_SQL",
    "_derived_key",
    "DERIVED_KEY_SQL",
    "KEY_CLASS_SQL",
    "QuerySpec",
    "_supplier_streets",
    "SEARCH_TERMS",
    "_DEDUP_CHUNK",
    "_CHUNK_SIZE",
    "_CHUNK_STRIDE",
    "_ts",
    "_dec_sum",
    "_fake_latlon",
    "_z_interleave",
    "_hilbert_stage_sql",
    "_hilbert_ctes_sql",
    "_SESSION_GAP_US",
    "_WM_US",
    "_STREET_SQL",
    "_CITY_SQL",
    "_PCODE_SQL",
    "_AMENITY_SQL",
    "_STYPE_SQL",
    "_EXPECTED_SQL",
    "_STREET_CANON_SQL",
    "_HOUSENUM_MATCH_SQL",
    "_CITY_FULL_SQL",
    "_CITY_FIRST_SQL",
    "_TOKENS_SQL",
    "_NORM_TEXT_SQL",
    "_LANG_SCORE_SQL",
    "_LANG_ORDER",
    "_LANG_MAX_SQL",
    "_LANG_PRED_SQL",
    "_ngram_jaccard_sql",
    "_NGRAM_JACCARD_SQL",
    "_ngram_jaccard_maxdf_sql",
    "_closure_clusters_sql",
    "_plane_literals_sql",
    "_bucket_expr_sql",
    "_COSINE_SQL",
    "_KNN_BUCKETED_SQL",
    "_KNN_JOIN_SQL",
    "_embedding_pairs_sql",
    "_embedding_pairs_auto_sql",
    "_embedding_join_sql",
    "_embedding_recall_sql",
    "_gopher_quality_sql",
    "_kgram_occurrences_sql",
    "_repetition_ngrams_sql",
    "_pii_scrub_sql",
    "_decontaminate_sql",
    "_STRATIFIED_SAMPLE_SQL",
    "_DOMAIN_MIX_SQL",
    "_SEQ_PACKING_SQL",
    "_PORTABLE_ID_HASH_SQL",
    "_quality_doc_sql",
    "_SAMPLE_PER_GROUP_SQL",
    "_token_budget_sql",
    "_quantile_filter_sql",
    "_curation_v2_sql",
    "_CENTROID_LONG_SQL",
    "_LABEL_CENTROIDS_SQL",
    "_CENTROID_SIMILARITY_SQL",
    "_simhash_pairs_sql",
    "_EMB_TOPK_SQL",
    "_CURATION_SQL",
    "_KMV_K",
    "_KMV_NORM",
    "_kmv_hash",
]


# ---------------------------------------------------------------------------
# Shared derived-dirty-data constants (testdata has no OSM-ish dirty strings,
# so we derive them deterministically from keys — same literals on both the
# Spark and oracle side).
# ---------------------------------------------------------------------------

DIRTY_STREETS = [
    "Jessore road",
    "Dum Dum raod",
    "Park st",
    "MG Rd.",
    "24/j, shyamsundar pally",
    "41, Jawaharlal Nehru Road",
    "Sarat Bose Avenue",
    "Gariahat Sarani",
]

DIRTY_CITIES = [
    "kolkata",
    "Kolkata",
    "saltlake",
    "Bamangachi",
    "Salt Lake",
    "dum dum cantt",
]

DIRTY_POSTCODES = ["700091", " 700 091 ", "7000", "74 00", "Kol-64", "700042"]

AMENITIES = ["cafe", "restaurant", "hospital"]

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _mat(df: DataFrame) -> DataFrame:
    """Materialize a STRAIGHT-LINE shared subtree consumed by 2+
    downstream plans: LAZY persist(MEMORY_AND_DISK).

    Measured r10 (PERF.md): beats localCheckpoint(eager=True) 2.2-2.8x
    on the exact pair joins and 5-10% on the graph queries, because a
    cached DataFrame stays a columnar InMemoryRelation (pruned, codegen
    scan, CacheManager substitutes it at ANALYSIS time so static plans
    stay compact) while localCheckpoint freezes row-format RDD blocks
    read outside whole-stage codegen. Keep localCheckpoint ONLY where
    the lineage CUT is the point — iterative plans (BFS frontiers,
    PageRank rounds, k-core peeling) whose unrolled static plans would
    otherwise re-expand per round.

    LAZY since r13: the eager count() was one extra scheduled job per
    call site whose only effect was filling the cache the first real
    consumer would fill anyway (within one action, concurrent branch
    tasks at worst duplicate a partition's compute — bounded waste, not
    a correctness risk, and no _mat site sits inside a per-action
    iteration loop: q_bfs_frontier briefly violated that and measured
    2.4-2.7× slower than per-hop localCheckpoint — r14 verdict item 6,
    scripts/ab_bfs_mat.py in git history — so iterative loop state must use
    localCheckpoint, never _mat). Same-session interleaved A/B at
    sf0.1: q_resource_allocation_capped 1.71→1.30, q_modularity
    1.62→1.45, q_max_concurrency 1.17→0.97, q_funnel_steps 0.54→0.49
    (best-of-4, outputs asserted identical). ~57 registry call sites.

    CONTRACT: _mat inputs must be DETERMINISTIC plans (pure functions
    of their source rows). Because the persist is lazy, two branches of
    one action can race to compute the same uncached partition; a frame
    containing rand()/sample()/spark_partition_id() could then diverge
    between consumers — the repartitionByRange block-id bug class. No
    registry caller passes such a plan (grep-verified r13/r14); keep it
    that way or materialize eagerly first."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _pick(key_col: F.Column, values: list[str]) -> F.Column:
    """values[(key % len) + 1] — deterministic per-row literal pick."""
    return F.element_at(
        F.array(*[F.lit(v) for v in values]),
        (key_col % len(values) + 1).cast("int"),
    )


def _sql_pick(key_expr: str, values: list[str]) -> str:
    lits = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
    return f"list_extract([{lits}], CAST({key_expr} % {len(values)} + 1 AS INT))"


def _sql_case_map(key_expr: str, mapping: dict[str, str]) -> str:
    whens = " ".join(
        "WHEN '{}' THEN '{}'".format(k.replace("'", "''"), v.replace("'", "''"))
        for k, v in mapping.items()
    )
    return f"CASE {key_expr} {whens} ELSE NULL END"


def _sql_regex(pattern: str) -> str:
    return "'" + pattern.replace("'", "''") + "'"


PROB_SQL = _sql_regex(cleaning.PROBLEMCHARS_RE)
LOWER_SQL = _sql_regex(cleaning.LOWER_RE)
LOWER_COLON_SQL = _sql_regex(cleaning.LOWER_COLON_RE)

# derived key used by the regex-classification queries (4 classes)
def _derived_key() -> F.Column:
    m = (F.col("doc_id") % 4).cast("int")
    return (
        F.when(m == 0, F.col("lang"))
        .when(m == 1, F.concat(F.col("lang"), F.lit(":"), F.col("lang")))
        .when(m == 2, F.concat(F.col("lang"), F.lit(".raw")))
        .otherwise(F.upper(F.col("lang")))
    )


DERIVED_KEY_SQL = (
    "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN lang "
    "WHEN 1 THEN lang || ':' || lang "
    "WHEN 2 THEN lang || '.raw' "
    "ELSE upper(lang) END"
)

KEY_CLASS_SQL = (
    f"CASE WHEN regexp_matches(k, {PROB_SQL}) THEN 'problemchars' "
    f"WHEN regexp_matches(k, {LOWER_COLON_SQL}) THEN 'lower_colon' "
    f"WHEN regexp_matches(k, {LOWER_SQL}) THEN 'lower' "
    "ELSE 'other' END"
)


@dataclass(frozen=True)
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


# ---------------------------------------------------------------------------
# Audits with collect_set (A4-A6) on derived dirty data
# ---------------------------------------------------------------------------


def _supplier_streets(spark: SparkSession, sf: str) -> DataFrame:
    df = table(spark, sf, "supplier")
    return df.select(
        "s_suppkey", _pick(F.col("s_suppkey"), DIRTY_STREETS).alias("street")
    )


SEARCH_TERMS = ["spark", "query", "window"]


_CHUNK_SIZE, _CHUNK_STRIDE = 32, 24  # overlapping context windows
_DEDUP_CHUNK = 16  # non-overlapping dedup granularity


def _ts(date_str: str) -> F.Column:
    """TIMESTAMP_NTZ literal matching the testdata's naive timestamps."""
    return F.expr(f"TIMESTAMP_NTZ '{date_str} 00:00:00'")


def _dec_sum(expr: F.Column, scale: str = "decimal(20,6)") -> F.Column:
    """Exact decimal sum of a double expression, surfaced as double."""
    return F.sum(expr.cast(scale)).cast("double")


def _fake_latlon(df: DataFrame) -> DataFrame:
    """Deterministic lat/lon derived from event fields (testdata has no
    geo columns): Kolkata-ish box, exact double arithmetic."""
    return df.select(
        "event_id",
        (F.lit(22.0) + F.col("value") / 100.0).alias("lat"),
        (F.lit(88.0) + (F.col("user_id") % 100) / 100.0).alias("lon"),
    )


def _z_interleave(gx: str, gy: str, bits: int, div: str) -> str:
    """Bit-interleave SQL for a Z-order (Morton) value, generated from one
    loop so the Spark and DuckDB sides are arithmetically identical; only
    the integer-division token differs between dialects."""
    terms = []
    for i in range(bits):
        terms.append(f"((({gx}) {div} {2**i}) % 2) * {2 ** (2 * i + 1)}")
        terms.append(f"((({gy}) {div} {2**i}) % 2) * {2 ** (2 * i)}")
    return " + ".join(terms)


def _hilbert_stage_sql(s: int, x: str, y: str, d: str) -> dict[str, str]:
    """One Hilbert xy→d stage (classic bit-level algorithm, Hamilton's
    formulation) as portable SQL text — pure CASE/AND/arithmetic, no
    dialect-specific XOR: the quadrant term (3·rx)⊕ry for rx,ry∈{0,1}
    equals rx·(3−ry) + (1−rx)·ry. Returns the next-stage expressions
    for d, x, y given this stage's bit s; chain the stages as
    withColumn steps (Spark) or CTEs (DuckDB) so the expression tree
    stays linear instead of 2^levels."""
    rx = f"(CASE WHEN (({x}) & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (({y}) & {s}) > 0 THEN 1 ELSE 0 END)"
    return {
        "d": f"({d}) + {s * s} * ({rx} * (3 - {ry}) + (1 - {rx}) * {ry})",
        "x": (
            f"(CASE WHEN {ry} = 1 THEN ({x}) "
            f"WHEN {rx} = 0 THEN ({y}) ELSE {s - 1} - ({y}) END)"
        ),
        "y": (
            f"(CASE WHEN {ry} = 1 THEN ({y}) "
            f"WHEN {rx} = 0 THEN ({x}) ELSE {s - 1} - ({x}) END)"
        ),
    }


def _hilbert_ctes_sql(bits: int, source: str) -> str:
    """DuckDB CTE chain computing the Hilbert index ``h`` for columns
    (gx, gy) of ``source`` (which must also expose gx0, gy0 passthrough
    columns); ends with a CTE named h{bits} holding (gx0, gy0, h)."""
    ctes = [f"h0 AS (SELECT gx0, gy0, gx AS x, gy AS y, 0 AS d FROM {source})"]
    for i in range(bits):
        s = 1 << (bits - 1 - i)
        e = _hilbert_stage_sql(s, "x", "y", "d")
        ctes.append(
            f"h{i + 1} AS (SELECT gx0, gy0, {e['x']} AS x, {e['y']} AS y, "
            f"{e['d']} AS d FROM h{i})"
        )
    return ",\n".join(ctes) + f",\nhil AS (SELECT gx0, gy0, d AS h FROM h{bits})"


# ONE unit-safe constant: every gap/watermark in the events family derives
# from this µs value (the canonical event-time unit — see catalog.event_ts_us)
_SESSION_GAP_US = 12 * 3600 * 10**6


_WM_US = 3600 * 10**6  # 1h watermark delay for the watermarked sessionizer


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB) — independently written ANSI SQL for each query above.
# ---------------------------------------------------------------------------

_STREET_SQL = _sql_pick("s_suppkey", DIRTY_STREETS)
_CITY_SQL = _sql_pick("c_custkey", DIRTY_CITIES)
_PCODE_SQL = _sql_pick("c_custkey", DIRTY_POSTCODES)
_AMENITY_SQL = _sql_pick("c_custkey", AMENITIES)
_STYPE_SQL = r"regexp_extract(street, '\b\S+\.?$', 0)"
_EXPECTED_SQL = ", ".join(f"'{t}'" for t in cleaning.EXPECTED_STREET_TYPES)
_STREET_CANON_SQL = _sql_case_map(
    r"lower(regexp_replace(tok, '\.$', ''))", cleaning.STREET_MAPPING
)
_HOUSENUM_MATCH_SQL = (
    r"regexp_extract(street, '^\s*\d+/?\d*[a-zA-Z]?,?[^a-zA-Z]*', 0)"
)
_CITY_FULL_SQL = _sql_case_map("lower(city_in)", cleaning.CITY_MAPPING)
_CITY_FIRST_SQL = _sql_case_map(
    "lower(split_part(city_in, ' ', 1))", cleaning.CITY_MAPPING
)
_TOKENS_SQL = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"
_NORM_TEXT_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"

_LANG_SCORE_SQL = {
    lang: (
        "len(list_filter({toks}, t -> t IN ({sw})))".format(
            toks="toks", sw=", ".join(f"'{w}'" for w in sw)
        )
    )
    for lang, sw in text.LANG_STOPWORDS.items()
}
_LANG_ORDER = sorted(text.LANG_STOPWORDS)
_LANG_MAX_SQL = "greatest({})".format(
    ", ".join(f"s_{la}" for la in _LANG_ORDER)
)
_LANG_PRED_SQL = "CASE WHEN {m} = 0 THEN 'und' {whens} END".format(
    m="m",
    whens=" ".join(f"WHEN s_{la} = m THEN '{la}'" for la in _LANG_ORDER),
)

def _ngram_jaccard_sql(threshold: float, source: str = "documents") -> str:
    """Exact trigram-Jaccard pair SQL (matches ngram_jaccard_pairs with
    shingle_k=3) over `source`, parametrized by threshold so the SAME
    oracle covers the exact tier (0.2) and the recall-1.0 LSH tier (0.5)."""
    return rf"""
    WITH toked AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks FROM {source}
    ),
    shingled AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> array_to_string(toks[i:i+2], ' ')))
             ELSE [array_to_string(toks, ' ')] END AS sh
      FROM toked
    ),
    exploded AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
    sizes AS (SELECT doc_id, count(*) AS n FROM exploded GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM exploded a JOIN exploded b
        ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           floor(common / (sa.n + sb.n - common) * 10000 + 0.5) / 10000 AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE floor(common / (sa.n + sb.n - common) * 10000 + 0.5) / 10000 >= {threshold}
"""


_NGRAM_JACCARD_SQL = _ngram_jaccard_sql(0.2)


def _ngram_jaccard_maxdf_sql(threshold: float, max_df: float) -> str:
    """ngram-Jaccard with the stop-shingle DF cut: hot shingles (document
    frequency > max_df · n_docs) excluded from candidate generation; the
    jaccard of surviving candidates recounted from FULL shingle sets."""
    return rf"""
    WITH toked AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ),
    shingled AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> array_to_string(toks[i:i+2], ' ')))
             ELSE [array_to_string(toks, ' ')] END AS sh
      FROM toked
    ),
    exploded AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
    ndocs AS (SELECT count(*) AS n FROM documents),
    hot AS (
      SELECT s FROM exploded, ndocs GROUP BY s, n
      HAVING count(*) > greatest(1, CAST(floor({max_df} * n) AS BIGINT))
    ),
    cold AS (
      SELECT doc_id, s FROM exploded WHERE s NOT IN (SELECT s FROM hot)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM exploded GROUP BY doc_id),
    common AS (
      SELECT c.id_a, c.id_b, count(*) AS common
      FROM cand c
      JOIN exploded ea ON ea.doc_id = c.id_a
      JOIN exploded eb ON eb.doc_id = c.id_b AND eb.s = ea.s
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           floor(common / (sa.n + sb.n - common) * 10000 + 0.5) / 10000 AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE floor(common / (sa.n + sb.n - common) * 10000 + 0.5) / 10000 >= {threshold}
"""


def _closure_clusters_sql(pairs_sql: str) -> str:
    """Recursive-CTE transitive closure over a pair query → (id, cluster_id)
    with cluster_id = min id in the connected component (the oracle for the
    iterative min-label propagation in dedup.dup_clusters)."""
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach(id, label) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
        )
        SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
    """

def _plane_literals_sql(n_planes: int, dim: int = 64, seed: int = 42) -> str:
    """One-row CTE body exposing the deterministic (md5-seeded) LSH
    hyperplanes as DuckDB double-list columns p0..p{n-1}. repr(float)
    round-trips exactly, so the oracle buckets with bit-identical planes."""
    from data_wrangle_openstreetmaps_data_spark.operators.similarity import (
        _seeded_projections,
    )

    planes = _seeded_projections(dim, n_planes, seed)
    cols = ", ".join(
        "[" + ", ".join(repr(x) for x in plane) + f"]::DOUBLE[] AS p{p}"
        for p, plane in enumerate(planes)
    )
    return f"SELECT {cols}"


def _bucket_expr_sql(vec: str, n_planes: int) -> str:
    """Sign-random-projection bucket id over `vec` (a DOUBLE-castable list
    column), mirroring similarity.lsh_bucket: bit p set iff <v, plane_p> >= 0."""
    bits = [
        f"(CASE WHEN list_sum(list_transform(range(1, len({vec}) + 1), "
        f"i -> CAST({vec}[i] AS DOUBLE) * p{p}[i])) >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    ]
    return " + ".join(bits)


_COSINE_SQL = """
    list_sum(list_transform(range(1, len({a}) + 1),
      i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""

_KNN_BUCKETED_SQL = f"""
    WITH planes AS ({_plane_literals_sql(4)}),
    b AS (
      SELECT vec_id, embedding,
             {_bucket_expr_sql('embedding', 4)} AS bucket
      FROM embeddings, planes
    ),
    q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0)
    SELECT vec_id,
           floor(({_COSINE_SQL.format(a='embedding', b='qv')}) * 10000 + 0.5) / 10000 AS sim
    FROM b, q WHERE bucket = qb
    ORDER BY sim DESC, vec_id LIMIT 10
"""

_KNN_JOIN_SQL = f"""
    WITH planes AS ({_plane_literals_sql(3)}),
    b AS (
      SELECT vec_id, embedding,
             {_bucket_expr_sql('embedding', 3)} AS bucket
      FROM embeddings, planes
    ),
    pairs AS (
      SELECT a.vec_id AS lid, r.vec_id AS rid,
             floor(({_COSINE_SQL.format(a='a.embedding', b='r.embedding')}) * 10000 + 0.5) / 10000 AS sim
      FROM b a JOIN b r ON a.bucket = r.bucket AND a.vec_id != r.vec_id
    ),
    ranked AS (
      SELECT lid, rid, sim,
             row_number() OVER (PARTITION BY lid ORDER BY sim DESC, rid) AS rn
      FROM pairs
    )
    SELECT lid, rid, sim, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= 3
"""


def _embedding_pairs_sql(
    threshold: float = 0.4, bands: int = 8, rows_per_band: int = 4
) -> str:
    """Full replication of dedup.embedding_near_dup_pairs in DuckDB: the
    md5-seeded hyperplanes are inlined as double literals (repr round-trips
    exactly), each band's bucket is the rows_per_band sign bits of the
    plane dot products (same sequential double arithmetic as the Spark
    fold), candidates come from the per-band (band, bucket) equality join,
    and the verify step recomputes the exact cosine with round4 doubles —
    so the oracle checks the actual approximate algorithm end to end."""
    n = bands * rows_per_band
    band_exprs = []
    for b in range(bands):
        bits = [
            "(CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * p{b * rows_per_band + j}[i])) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(rows_per_band)
        ]
        band_exprs.append(" + ".join(bits))
    cos = _COSINE_SQL.format(a="x.embedding", b="y.embedding")
    return f"""
    WITH planes AS ({_plane_literals_sql(n)}),
    bk AS (
      SELECT vec_id AS id, [{", ".join(band_exprs)}] AS bks
      FROM embeddings, planes
    ),
    bucketed AS (
      SELECT id, t.band AS band, bks[t.band + 1] AS bucket
      FROM bk, range({bands}) t(band)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bucketed a JOIN bucketed b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             floor(({cos}) * 10000 + 0.5) / 10000 AS cos_sim
      FROM cand c
      JOIN embeddings x ON x.vec_id = c.id_a
      JOIN embeddings y ON y.vec_id = c.id_b
    )
    SELECT id_a, id_b, cos_sim FROM verified WHERE cos_sim >= {threshold}
    """


def _embedding_pairs_auto_sql(
    threshold: float = 0.4, bands: int = 8, seed: int = 42
) -> str:
    """Replication of dedup.embedding_near_dup_pairs(rows_per_band=None)
    — the COUNT-DERIVED r form (r12 verdict item 1). A static SQL string
    can't inline planes for an r it doesn't know, so this oracle derives
    r IN SQL (LEAST(63, GREATEST(4, length(bin(n·b)))) ≡ Python's
    auto_rows_per_band, pinned by tests) and computes the md5-seeded
    hyperplanes exactly in SQL:

      u  = first 16 hex digits of md5(f"{seed}|{p}|{i}") as uint64
      val = (u / 2^64) * 2 - 1

    parsed as hi/2^32 + lo/2^64 where hi/lo are the two 8-hex-digit
    halves — each half-sum is an exact integer < 2^32 in DOUBLE, each
    division by a power of two is exact, and the final add/mul/sub are
    single correctly-rounded IEEE ops, so every plane value is
    BIT-IDENTICAL to similarity._seeded_projections (property-tested).
    Plane index p = band·r + j, bit weight 2^j — the exact layout the
    Spark bucketers use. Everything downstream (per-band bucket
    equality candidates, exact-cosine verify, round4) matches
    _embedding_pairs_sql."""
    hexp = (
        f"md5('{seed}|' || CAST(b.range * rr.r + j.range AS VARCHAR) "
        "|| '|' || CAST(i.range AS VARCHAR))"
    )
    cos = _COSINE_SQL.format(a="x.embedding", b="y.embedding")
    return f"""
    WITH nn AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
    rr AS MATERIALIZED (
      SELECT CAST(LEAST(63, GREATEST(4,
        length(bin(CAST(n AS BIGINT) * {bands})))) AS INTEGER) AS r
      FROM nn
    ),
    pl AS MATERIALIZED (
      SELECT CAST(pp.band AS INTEGER) AS band, CAST(pp.j AS INTEGER) AS j,
             list(pp.val ORDER BY pp.i) AS pvec
      FROM (
        SELECT b.range AS band, j.range AS j, i.range AS i,
          (( list_sum(list_transform(range(1, 9),
               k -> CAST(strpos('0123456789abcdef', substr({hexp}, k, 1)) - 1 AS DOUBLE) * power(16.0, 8 - k)))
             / 4294967296.0
           + list_sum(list_transform(range(9, 17),
               k -> CAST(strpos('0123456789abcdef', substr({hexp}, k, 1)) - 1 AS DOUBLE) * power(16.0, 16 - k)))
             / 18446744073709551616.0
          ) * 2.0 - 1.0) AS val
        FROM range({bands}) b, range(63) j, range(64) i, rr
        WHERE j.range < rr.r
      ) pp
      GROUP BY pp.band, pp.j
    ),
    bk AS MATERIALIZED (
      SELECT e.vec_id AS id, p.band AS band,
             CAST(sum(CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
                  i -> CAST(e.embedding[i] AS DOUBLE) * p.pvec[i])) >= 0
                  THEN CAST(1 AS BIGINT) << p.j ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
      FROM embeddings e CROSS JOIN pl p
      GROUP BY e.vec_id, p.band
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bk a JOIN bk b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             floor(({cos}) * 10000 + 0.5) / 10000 AS cos_sim
      FROM cand c
      JOIN embeddings x ON x.vec_id = c.id_a
      JOIN embeddings y ON y.vec_id = c.id_b
    )
    SELECT id_a, id_b, cos_sim FROM verified WHERE cos_sim >= {threshold}
    """


def _embedding_join_sql(
    threshold: float = 0.4, bands: int = 8, rows_per_band: int = 4,
    modulus: int = 10, batch_min: int = 8,
) -> str:
    """Cross-corpus variant of _embedding_pairs_sql: same plane-inlined
    bucketing, but candidates pair the batch split (id % modulus >=
    batch_min) against the corpus split, oriented (left_id, right_id)."""
    n = bands * rows_per_band
    band_exprs = []
    for b in range(bands):
        bits = [
            "(CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * p{b * rows_per_band + j}[i])) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(rows_per_band)
        ]
        band_exprs.append(" + ".join(bits))
    cos = _COSINE_SQL.format(a="x.embedding", b="y.embedding")
    return f"""
    WITH planes AS ({_plane_literals_sql(n)}),
    bk AS (
      SELECT vec_id AS id, [{", ".join(band_exprs)}] AS bks
      FROM embeddings, planes
    ),
    bucketed AS (
      SELECT id, t.band AS band, bks[t.band + 1] AS bucket
      FROM bk, range({bands}) t(band)
    ),
    cand AS (
      SELECT DISTINCT a.id AS left_id, b.id AS right_id
      FROM bucketed a JOIN bucketed b
        ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.id % {modulus} >= {batch_min} AND b.id % {modulus} < {batch_min}
    ),
    verified AS (
      SELECT c.left_id, c.right_id,
             floor(({cos}) * 10000 + 0.5) / 10000 AS cos_sim
      FROM cand c
      JOIN embeddings x ON x.vec_id = c.left_id
      JOIN embeddings y ON y.vec_id = c.right_id
    )
    SELECT left_id, right_id, cos_sim FROM verified WHERE cos_sim >= {threshold}
    """


def _embedding_recall_sql(
    threshold: float = 0.4, bands: int = 8, rows_per_band: int = 4
) -> str:
    """(recall, precision) of the embedding LSH tier derived entirely in
    SQL: the LSH pair set is the full plane-inlined replication above, the
    exact baseline is the all-pairs cosine join at the same threshold, and
    both ratios use the same portable round4."""
    cos = _COSINE_SQL.format(a="a.embedding", b="b.embedding")
    return f"""
    WITH lsh AS ({_embedding_pairs_sql(threshold, bands, rows_per_band)}),
    exact AS (
      SELECT id_a, id_b FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               floor(({cos}) * 10000 + 0.5) / 10000 AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      ) WHERE cos_sim >= {threshold}
    ),
    hit AS (
      SELECT l.id_a, l.id_b FROM lsh l JOIN exact e
        ON l.id_a = e.id_a AND l.id_b = e.id_b
    ),
    n AS (
      SELECT (SELECT count(*) FROM hit) AS n_hit,
             (SELECT count(*) FROM exact) AS n_exact,
             (SELECT count(*) FROM lsh) AS n_lsh
    )
    SELECT floor((CAST(n_hit AS DOUBLE) / n_exact) * 10000 + 0.5) / 10000 AS recall,
           floor((CAST(n_hit AS DOUBLE) / n_lsh) * 10000 + 0.5) / 10000 AS precision
    FROM n
    """


def _gopher_quality_sql() -> str:
    """Replicates curation.gopher_quality_stats: same tokenization, same
    two-level (id,tok)→id aggregation, same null-token guard for empty
    docs, same round4. HUGEINT sums are cast back to BIGINT."""
    stop = ", ".join(f"'{s}'" for s in curation._STOPWORDS_EN)
    return rf"""
    WITH toked AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ),
    exploded AS (
      SELECT doc_id,
             unnest(CASE WHEN toks IS NULL OR len(toks) = 0 THEN [NULL] ELSE toks END) AS tok
      FROM toked
    ),
    per_tok AS (
      SELECT doc_id, tok, count(*) AS cnt FROM exploded GROUP BY 1, 2
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN tok IS NOT NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN tok IS NOT NULL THEN len(tok) * cnt ELSE 0 END) AS BIGINT) AS len_sum,
             CAST(sum(CASE WHEN tok IS NOT NULL AND regexp_matches(tok, '{curation._SYMBOL_RE}')
                      THEN cnt ELSE 0 END) AS BIGINT) AS sym,
             CAST(sum(CASE WHEN tok IN ({stop}) THEN cnt ELSE 0 END) AS BIGINT) AS stop,
             max(CASE WHEN tok IS NOT NULL THEN cnt ELSE 0 END) AS top,
             count(CASE WHEN tok IS NOT NULL THEN 1 END) AS dst
      FROM per_tok GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           CASE WHEN n_tokens > 0
                THEN floor(len_sum / CAST(n_tokens AS DOUBLE) * 10000 + 0.5) / 10000
                ELSE 0.0 END AS mean_word_len,
           CASE WHEN n_tokens > 0
                THEN floor(sym / CAST(n_tokens AS DOUBLE) * 10000 + 0.5) / 10000
                ELSE 0.0 END AS symbol_word_frac,
           CASE WHEN n_tokens > 0
                THEN floor(stop / CAST(n_tokens AS DOUBLE) * 10000 + 0.5) / 10000
                ELSE 0.0 END AS stopword_frac,
           CASE WHEN n_tokens > 0
                THEN floor(top / CAST(n_tokens AS DOUBLE) * 10000 + 0.5) / 10000
                ELSE 0.0 END AS top_token_share,
           CASE WHEN n_tokens > 0
                THEN floor((1 - dst / CAST(n_tokens AS DOUBLE)) * 10000 + 0.5) / 10000
                ELSE 0.0 END AS dup_token_frac
    FROM agg
    """


def _kgram_occurrences_sql(k: int, source: str = "documents") -> str:
    """All k-gram occurrences (id, s) WITH duplicates — the DuckDB twin of
    shingle_table (short docs yield their whole token string once)."""
    return rf"""
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= {k} THEN
               list_transform(range(1, len(toks) - {k - 2}),
                 i -> array_to_string(toks[i:i+{k - 1}], ' '))
             ELSE [array_to_string(toks, ' ')] END) AS s
      FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM {source})
    """


def _repetition_ngrams_sql(k: int = 2) -> str:
    return rf"""
    WITH occ AS ({_kgram_occurrences_sql(k)}),
    per AS (SELECT doc_id, s, count(*) AS cnt FROM occ GROUP BY 1, 2),
    agg AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_ngrams,
             count(*) AS dst,
             max(cnt) AS top
      FROM per GROUP BY doc_id
    )
    SELECT doc_id, n_ngrams,
           floor((1 - dst / CAST(n_ngrams AS DOUBLE)) * 10000 + 0.5) / 10000 AS dup_ngram_frac,
           floor(top / CAST(n_ngrams AS DOUBLE) * 10000 + 0.5) / 10000 AS top_ngram_share
    FROM agg
    """


def _pii_scrub_sql() -> str:
    """Replicates q_pii_scrub: same planted suffix, same RE2-safe
    patterns, same email→IP→phone application order ('g' = global,
    matching Spark's replace-all), and — matching pii_scrub's staged
    contract — each kind counted on the text as that stage sees it
    (post prior redactions)."""
    counts = []
    red = "t"
    for name, pat, tag in curation.PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all({red}, '{pat}')) AS INT) AS n_{name}"
        )
        red = f"regexp_replace({red}, '{pat}', '{tag}', 'g')"
    return rf"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-867-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
             ELSE text END AS t
      FROM documents
    )
    SELECT doc_id,
           {", ".join(counts)},
           md5({red}) AS scrub_hash
    FROM planted
    """


def _decontaminate_sql(k: int = 5, min_shared: int = 1, modulus: int = 29) -> str:
    """Replicates q_decontaminate: distinct k-gram shingles per doc, the
    train/bench split by id modulus, equality join + pair count."""
    return rf"""
    WITH occ AS ({_kgram_occurrences_sql(k)}),
    dis AS (SELECT DISTINCT doc_id, s FROM occ),
    t AS (SELECT doc_id AS train_id, s FROM dis WHERE doc_id % {modulus} <> 0),
    b AS (SELECT doc_id AS bench_id, s FROM dis WHERE doc_id % {modulus} = 0)
    SELECT train_id, bench_id, count(*) AS n_shared
    FROM t JOIN b USING (s)
    GROUP BY 1, 2
    HAVING count(*) >= {min_shared}
    """


_STRATIFIED_SAMPLE_SQL = """
    SELECT doc_id, lang FROM documents
    WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000)
          < (CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.25
                       WHEN 'zh' THEN 0.1 ELSE 1.0 END) * 10000
"""

_DOMAIN_MIX_SQL = f"""
    WITH per AS (
      SELECT source, CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, total_tokens,
             pow(CAST(total_tokens AS DOUBLE), 0.7) AS pw
      FROM per
    )
    SELECT source, total_tokens,
           floor(pw / sum(pw) OVER () * 10000 + 0.5) / 10000 AS mix_weight
    FROM w
"""

_SEQ_PACKING_SQL = f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    o AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(sum(n_tokens) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS start_offset
      FROM t
    )
    SELECT doc_id, n_tokens, start_offset,
           CAST(floor(start_offset / 512.0) AS BIGINT) AS pack_id,
           (n_tokens > 0 AND
            floor((start_offset + n_tokens - 1) / 512.0)
              > floor(start_offset / 512.0)) AS spans_boundary
    FROM o
"""


_PORTABLE_ID_HASH_SQL = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)"
)


def _quality_doc_sql(source: str = "documents") -> str:
    """Per-document (doc_id, lang, n_tokens, quality) with the ROUNDED
    composite quality score — the shared scoring CTE body for the
    budget-selection, quantile-filter, and pipeline-v2 oracles (mirrors
    text.quality_score exactly, same shape as the q_quality_score
    oracle). ``source`` must expose doc_id, lang, text."""
    stop = ", ".join(f"'{w}'" for w in text.STOPWORDS_EN)
    return rf"""
      SELECT doc_id, lang, CAST(len(toks) AS INT) AS n_tokens,
             floor((least(len(toks) / 50.0, 1.0) * 0.4
                   + (1.0 - least(punct_ratio * 5, 1.0)) * 0.3
                   + least(stop_ratio * 4, 1.0) * 0.3) * 10000 + 0.5) / 10000 AS quality
      FROM (
        SELECT doc_id, lang, toks, punct_ratio,
               CASE WHEN len(toks) > 0 THEN
                 len(list_filter(toks, t -> t IN ({stop}))) / len(toks)
               ELSE 0.0 END AS stop_ratio
        FROM (
          SELECT doc_id, lang, {_TOKENS_SQL} AS toks,
                 CASE WHEN length(text) > 0 THEN
                   length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                     / length(text)
                 ELSE 0.0 END AS punct_ratio
          FROM {source}
        )
      )
    """


_SAMPLE_PER_GROUP_SQL = f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_PORTABLE_ID_HASH_SQL}, doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 20
"""


def _token_budget_sql(budget: int = 5000) -> str:
    return f"""
    WITH q AS ({_quality_doc_sql()}),
    r AS (
      SELECT doc_id, quality, n_tokens,
             CAST(sum(n_tokens) OVER (
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM q
    )
    SELECT doc_id, quality, n_tokens, cum_tokens
    FROM r WHERE cum_tokens <= {budget}
    """


def _quantile_filter_sql(min_quantile: float = 0.25) -> str:
    return f"""
    WITH q AS ({_quality_doc_sql()}),
    r AS (
      SELECT doc_id, lang, quality,
             floor(percent_rank() OVER (
               PARTITION BY lang ORDER BY quality ASC, doc_id ASC
             ) * 10000 + 0.5) / 10000 AS q_rank
      FROM q
    )
    SELECT doc_id, lang, quality, q_rank
    FROM r WHERE q_rank >= {min_quantile}
    """


def _curation_v2_sql(
    max_dup: float = 0.65, min_quantile: float = 0.25,
    k: int = 5, modulus: int = 29,
) -> str:
    """Composed oracle for the v2 curation pipeline: PII scrub chain,
    round4'd dup-token-fraction cut, per-language percent_rank quality
    cut, min-id exact dedup on the scrubbed text, and k-gram
    decontamination vs the benchmark split — one SQL statement, so the
    WHOLE pipeline is value-checked, not just its stages."""
    red = "text"
    for _, pat, tag in curation.PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{tag}', 'g')"
    return rf"""
    WITH train AS (
      SELECT doc_id, lang, {red} AS text
      FROM documents WHERE doc_id % {modulus} <> 0
    ),
    benchdocs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {modulus} = 0
    ),
    toked AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM train),
    ex AS (
      SELECT doc_id,
             unnest(CASE WHEN toks IS NULL OR len(toks) = 0
                    THEN [NULL] ELSE toks END) AS tok
      FROM toked
    ),
    pt AS (SELECT doc_id, tok, count(*) AS cnt FROM ex GROUP BY 1, 2),
    rep AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN tok IS NOT NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_tok,
             count(CASE WHEN tok IS NOT NULL THEN 1 END) AS dst
      FROM pt GROUP BY doc_id
    ),
    repkeep AS (
      SELECT doc_id FROM rep
      WHERE (CASE WHEN n_tok > 0 THEN
               floor((1 - dst / CAST(n_tok AS DOUBLE)) * 10000 + 0.5) / 10000
             ELSE 0.0 END) <= {max_dup}
    ),
    stage2 AS (SELECT t.* FROM train t JOIN repkeep USING (doc_id)),
    q AS ({_quality_doc_sql("stage2")}),
    qr AS (
      SELECT doc_id, quality,
             floor(percent_rank() OVER (
               PARTITION BY lang ORDER BY quality ASC, doc_id ASC
             ) * 10000 + 0.5) / 10000 AS q_rank
      FROM q
    ),
    stage3 AS (
      SELECT t.doc_id, t.lang, r.quality, t.text
      FROM stage2 t JOIN qr r USING (doc_id)
      WHERE r.q_rank >= {min_quantile}
    ),
    exact AS (
      SELECT min(doc_id) AS keep_id FROM stage3
      GROUP BY {_NORM_TEXT_SQL}
    ),
    survivors AS (
      SELECT s.* FROM stage3 s JOIN exact ON s.doc_id = exact.keep_id
    ),
    bench_sh AS (
      SELECT DISTINCT s FROM ({_kgram_occurrences_sql(k, "benchdocs")})
    ),
    contaminated AS (
      SELECT DISTINCT doc_id
      FROM ({_kgram_occurrences_sql(k, "survivors")})
      WHERE s IN (SELECT s FROM bench_sh)
    )
    SELECT doc_id, lang, quality,
           substr(md5({_NORM_TEXT_SQL}), 1, 16) AS fp
    FROM survivors
    WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    """


_CENTROID_LONG_SQL = """
      SELECT label,
             unnest(range(len(embedding))) AS pos,
             unnest(embedding) AS x
      FROM embeddings
"""

_LABEL_CENTROIDS_SQL = f"""
    SELECT label, CAST(pos AS INT) AS pos,
           floor(avg(CAST(x AS DOUBLE)) * 10000 + 0.5) / 10000 AS centroid
    FROM ({_CENTROID_LONG_SQL})
    GROUP BY label, pos
"""

_CENTROID_SIMILARITY_SQL = f"""
    WITH e AS ({_CENTROID_LONG_SQL}),
    c AS (
      SELECT label, pos, avg(CAST(x AS DOUBLE)) AS c
      FROM e GROUP BY 1, 2
    ),
    d AS (
      SELECT a.label AS label_a, b.label AS label_b, sum(a.c * b.c) AS dot
      FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
      GROUP BY 1, 2
    ),
    n AS (SELECT label, sqrt(sum(c * c)) AS nrm FROM c GROUP BY label)
    SELECT label_a, label_b,
           floor(dot / (na.nrm * nb.nrm) * 10000 + 0.5) / 10000 AS cos_sim
    FROM d
    JOIN n na ON na.label = d.label_a
    JOIN n nb ON nb.label = d.label_b
"""


def _simhash_pairs_sql(max_hamming: int = 24, bits: int = 60,
                       chunks: int = 4) -> str:
    """Full SimHash replication in DuckDB: portable md5-60-bit token hash,
    per-bit majority votes, sign-assembled signature, 16-bit chunk-equality
    candidate join, exact hamming ranking — mirrors dedup.simhash +
    dedup.dedup_simhash bit for bit."""
    h = "(('0x' || substr(md5(tok), 1, 15))::BIGINT)"
    votes = ",\n             ".join(
        f"sum(CASE WHEN tok IS NULL THEN 0 "
        f"WHEN (({h} >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    chunk_bits = 64 // chunks
    mask = (1 << chunk_bits) - 1
    return f"""
    WITH toked AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ),
    exploded AS (
      SELECT doc_id,
             unnest(CASE WHEN toks IS NULL OR len(toks) = 0 THEN [NULL] ELSE toks END) AS tok
      FROM toked
    ),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM exploded GROUP BY doc_id
    ),
    sigs AS (SELECT doc_id, {sig} AS sig FROM votes),
    chunked AS (
      SELECT doc_id, sig, c AS chunk, (sig >> (c * {chunk_bits})) & {mask} AS chunk_val
      FROM sigs, range({chunks}) t(c)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM chunked a JOIN chunked b
        ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(sig_a, sig_b)) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
"""


_EMB_TOPK_SQL = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT vec_id,
             list_sum(list_transform(range(1, len(embedding) + 1),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) AS dp,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
             sqrt(list_sum(list_transform(qv,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq
      FROM embeddings, q
    )
    SELECT vec_id, floor(dp / (na * nq) * 10000 + 0.5) / 10000 AS sim
    FROM s ORDER BY sim DESC, vec_id LIMIT 10
"""


# The full curation pipeline, stage by stage, as ONE DuckDB query:
# lang-ID filter (en) → quality gate (>= 0.3) → exact dedup (min-id rep per
# normalized text) → near-dup clustering (exact trigram Jaccard >= 0.5 ==
# the recall-1.0 LSH output) → keep representatives → fingerprint.
_CURATION_SQL = rf"""
    WITH RECURSIVE toked AS (
      SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents
    ),
    scored AS (
      SELECT doc_id, text, toks,
             {', '.join(f"{_LANG_SCORE_SQL[la]} AS s_{la}" for la in _LANG_ORDER)}
      FROM toked
    ),
    maxed AS (SELECT *, {_LANG_MAX_SQL} AS m FROM scored),
    langed AS (SELECT doc_id, text, toks, {_LANG_PRED_SQL} AS pred FROM maxed),
    lang_ok AS (SELECT * FROM langed WHERE pred = 'en'),
    qbase AS (
      SELECT *,
             CASE WHEN length(text) > 0 THEN
               length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                 / length(text)
             ELSE 0.0 END AS punct_ratio,
             CASE WHEN len(toks) > 0 THEN
               len(list_filter(toks, t -> t IN ({', '.join(f"'{w}'" for w in text.STOPWORDS_EN)})))
                 / len(toks)
             ELSE 0.0 END AS stop_ratio
      FROM lang_ok
    ),
    qscored AS (
      SELECT doc_id, text, toks, pred,
             floor((least(len(toks) / 50.0, 1.0) * 0.4
                   + (1.0 - least(punct_ratio * 5, 1.0)) * 0.3
                   + least(stop_ratio * 4, 1.0) * 0.3) * 10000 + 0.5) / 10000
               AS quality
      FROM qbase
    ),
    q_ok AS (SELECT * FROM qscored WHERE quality >= 0.3),
    exact_kept AS (
      SELECT doc_id, text, toks, pred, quality FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY {_NORM_TEXT_SQL}) AS keep_id
        FROM q_ok
      ) WHERE doc_id = keep_id
    ),
    shingled AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> array_to_string(toks[i:i+2], ' ')))
             ELSE [array_to_string(toks, ' ')] END AS sh
      FROM exact_kept
    ),
    exploded AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
    sizes AS (SELECT doc_id, count(*) AS n FROM exploded GROUP BY doc_id),
    cpairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM exploded a JOIN exploded b
        ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM cpairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE floor(common / (sa.n + sb.n - common) * 10000 + 0.5) / 10000 >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, label) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
    ),
    dropped AS (
      SELECT id FROM (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
      WHERE id != cluster_id
    )
    SELECT doc_id, pred, quality,
           substr(md5({_NORM_TEXT_SQL}), 1, 16) AS fp
    FROM exact_kept
    WHERE doc_id NOT IN (SELECT id FROM dropped)
"""

# ---------------------------------------------------------------------------
# Sketches, rank analytics, co-occurrence, robust outliers, skew patterns
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_NORM = float(1 << 60)  # portable hash is 60-bit → [0, 2^60)


def _kmv_hash(col) -> F.Column:
    from data_wrangle_openstreetmaps_data_spark.operators.dedup import (
        portable_token_hash,
    )

    return portable_token_hash(col.cast("string"))
