"""Deduplication operators for training-data pipelines (EXT, SURVEY.md §2.7).

Four tiers, each with a different cost/recall point — all designed so the
candidate-generation step is a key-equality shuffle (never an O(n²) cross
join), which is the property that survives a 100 TB corpus:

- exact:          hash groupBy on the normalized text (1 shuffle).
- minhash LSH:    shingle → k minhashes → b bands → self-join on band
                  signature → verify true Jaccard on candidates only.
- simhash:        64-bit sign-aggregated token hash → join on exact
                  signature (near-dup ⇒ small Hamming distance; banding the
                  4×16-bit chunks gives the Hamming<=3 candidate join).
- ngram Jaccard:  inverted-index join on shingles, Jaccard from shared-
                  shingle counts (exact similarity, pruned by the index).

Signatures are engine-internal (xxhash64 base + universal-hash
permutations); the externally-checked quantity is the exact Jaccard
computed on verified candidates, which is hash-free.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_wrangle_openstreetmaps_data_spark.functions.text import (
    fingerprint,
    normalize_ws,
    round4,
    shingle_table,
    tokens,
)


def dedup_incremental(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXT-D1 (incremental form) — novel documents of an incoming batch
    against an already-ingested corpus: the merge step every continuously
    growing corpus needs (batch analog of ``streaming/dedup_stream``).

    Two stages, both keyed by the content fingerprint:
    1. within-batch exact dedup (min id per fingerprint wins —
       deterministic, like ``dedup_exact``);
    2. left-anti join against the corpus's distinct fingerprint set.

    Output: (id, fp) of the batch's genuinely new documents.

    100 TB posture: only fingerprints of the corpus cross the wire —
    16-char strings, not documents; in production you persist that
    fingerprint set once as a bronze sidecar instead of recomputing it
    per merge, and a bloom filter on fp pre-filters the anti-join so
    only probable-duplicate rows shuffle at all."""
    fp = fingerprint(text_col)
    reps = (
        new.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    seen = corpus.select(fp.alias("fp")).dropDuplicates(["fp"])
    return reps.join(seen, "fp", "left_anti").select(id_col, "fp")


def _orient_cross_pairs(
    pairs: DataFrame, left_ids: DataFrame, value_col: str
) -> DataFrame:
    """Keep only pairs with exactly one endpoint in ``left_ids`` (a
    one-column frame named ``_lid``) and orient them as
    (left_id, right_id, value). Shared by the cross-corpus join forms of
    the minhash and embedding tiers."""
    a_in_l = pairs.join(
        left_ids, pairs["id_a"] == left_ids["_lid"], "left"
    ).select(
        "id_a", "id_b", value_col, F.col("_lid").isNotNull().alias("_a_l")
    )
    both = a_in_l.join(
        left_ids, a_in_l["id_b"] == left_ids["_lid"], "left"
    ).select(
        "id_a", "id_b", value_col, "_a_l",
        F.col("_lid").isNotNull().alias("_b_l"),
    )
    return (
        both.filter(F.col("_a_l") != F.col("_b_l"))
        .select(
            F.when(F.col("_a_l"), F.col("id_a"))
            .otherwise(F.col("id_b")).alias("left_id"),
            F.when(F.col("_a_l"), F.col("id_b"))
            .otherwise(F.col("id_a")).alias("right_id"),
            value_col,
        )
    )


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXT-D2 (cross-corpus form) — near-duplicate pairs BETWEEN two
    corpora (left_id, right_id, jaccard): the merge-time companion of
    ``dedup_incremental`` for fuzzy duplicates, and the same shape as a
    train-vs-eval fuzzy decontamination pass.

    Requires globally unique ids across the two frames (the usual case:
    one id space, two subsets). Implemented by tagging sides, running the
    banded self-join machinery once over the union — identical scale
    properties to ``dedup_minhash_lsh`` (O(n·bands) candidate input) —
    then keeping only cross-side pairs, oriented left→right. Reusing the
    self-join beats two separate signature pipelines: one shingle table,
    one band shuffle, and within-side pairs are dropped post-verify where
    they are already scarce."""
    lt = left.select(F.col(id_col), F.col(text_col))
    rt = right.select(F.col(id_col), F.col(text_col))
    union = lt.unionByName(rt)
    pairs = dedup_minhash_lsh(
        union, text_col, id_col, n_hashes, bands, shingle_k, threshold
    )
    return _orient_cross_pairs(
        pairs, left.select(F.col(id_col).alias("_lid")), "jaccard"
    )


def embedding_near_dup_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    bands: int = 8,
    rows_per_band: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """EXT-D2 (cross-corpus embedding form) — cosine near-duplicates
    BETWEEN two embedding corpora, oriented (left_id, right_id,
    cos_sim): the semantic companion of ``minhash_lsh_join`` — e.g.
    embedding-level decontamination of a train set against an eval set.

    Same contract and scale shape as ``embedding_near_dup_pairs`` (one
    banded SRP bucketing over the tagged union, key-equality candidate
    join, exact-cosine verify), requiring globally unique ids across the
    two frames."""
    lv = left.select(F.col(id_col), F.col(vec_col))
    rv = right.select(F.col(id_col), F.col(vec_col))
    union = lv.unionByName(rv)
    pairs = embedding_near_dup_pairs(
        union, id_col, vec_col, threshold, bands, rows_per_band, dim, seed
    )
    return _orient_cross_pairs(
        pairs, left.select(F.col(id_col).alias("_lid")), "cos_sim"
    )


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """EXT-D1 — exact dedup by normalized text: one representative (min id)
    per group plus the duplicate count. Deterministic, unlike
    dropDuplicates' arbitrary-row pick."""
    return (
        df.groupBy(normalize_ws(text_col).alias("norm_text"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


# Mersenne prime 2^31-1: h_j(x) = (a_j * x + b_j) mod P over a base hash.
_MINHASH_P = (1 << 31) - 1


def _minhash_params(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family, derived
    from md5 so they're reproducible without RNG state."""
    import hashlib

    params = []
    for j in range(n_hashes):
        d = hashlib.md5(f"minhash|{seed}|{j}".encode()).digest()
        a = (int.from_bytes(d[:4], "big") % (_MINHASH_P - 1)) + 1
        b = int.from_bytes(d[4:8], "big") % _MINHASH_P
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle_k: int = 5,
    sh: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<long>) — the reusable first stage of MinHash LSH.

    Relational form: the distinct (id, shingle-hash) table from
    ``shingle_table`` is min-aggregated per permutation — a single codegen
    HashAggregate with n min() columns, no interpreted array lambdas.
    Pass a precomputed ``sh`` table to share it across pipeline stages."""
    if sh is None:
        sh = _shingle_hashes(df, text_col, id_col, shingle_k)
    h = F.pmod(F.col("s"), F.lit(_MINHASH_P))
    mins = [
        F.min((h * a + b) % _MINHASH_P).alias(f"m{j}")
        for j, (a, b) in enumerate(_minhash_params(n_hashes))
    ]
    agg = sh.groupBy("id").agg(*mins)
    return agg.select(
        "id", F.array(*[F.col(f"m{j}") for j in range(n_hashes)]).alias("sig")
    )


def _shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int,
    persist: bool = True,
) -> DataFrame:
    """Distinct (id, s) with s = xxhash64(shingle): 8-byte join/agg keys.

    Persisted (MEMORY_AND_DISK) by default: the dedup pipelines reference
    this table 2-4× (self-join sides, sizes, verification) and Spark does
    NOT reuse identical non-exchange subtrees — without the persist the
    shingling runs 4× per query (measured: 8 parquet scans / 4 windows in
    the executed plan). Blocks are LRU-evicted under pressure; at real
    scale this table is written once as a bronze table instead."""
    sh = (
        shingle_table(df, text_col, id_col, shingle_k)
        .select("id", F.xxhash64("shingle").alias("s"))
        .distinct()
    )
    if persist:
        from pyspark.storagelevel import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    return sh


def band_rows(sigs: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """LSH candidate-generation key frame: (id, band, band_sig) — one
    8-byte key per band per doc, the ONLY payload that rides the band
    shuffle. Factored out of :func:`dedup_minhash_lsh` so scale probes
    can measure the candidate-pair volume (Σ C(bucket,2)) the banding
    actually produces without re-deriving the construction."""
    rows_per_band = n_hashes // bands
    return sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.hash(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[b * rows_per_band + i].cast("string")
                                for i in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_sig"),
    )


def _class_hash(col) -> "F.Column":
    """8-byte BIGINT class key for exact-dup collapse member joins."""
    return F.xxhash64(col)


def _class_keys(classes: DataFrame, key_col: str, extra_cols=()) -> DataFrame:
    """(hash, rep, *extra) projection of an exact-dup ``classes`` frame
    (one row per DISTINCT class key) with an engine-side collision
    audit: since classes is distinct on ``key_col``, two rows sharing
    ``xxhash64(key)`` means two DISTINCT keys collided at 64 bits — the
    guard raise_errors mid-query instead of silently merging classes,
    so the narrow-key members join is machine-checked, never assumed.
    The guard lives in the ``_h`` join key itself, so no consumer that
    joins on ``_h`` can prune it away, whatever columns it keeps.
    NULL keys are dropped, matching raw-key equi-join semantics.
    ``extra_cols`` are class-constant expressions (aggregated with min —
    all rows in a non-colliding group are the same class row)."""
    pre = classes.filter(F.col(key_col).isNotNull()).select(
        _class_hash(F.col(key_col)).alias("_h"), F.col("rep"), *extra_cols
    )
    names = [c for c in pre.columns if c not in ("_h", "rep")]
    agged = pre.groupBy("_h").agg(
        F.min("rep").alias("rep"),
        F.count(F.lit(1)).alias("_nc"),
        *[F.min(n).alias(n) for n in names],
    )
    return agged.select(
        F.when(
            F.col("_nc") > 1,
            F.raise_error(
                F.lit(
                    "64-bit class-key collision in exact-dup collapse: "
                    "two distinct class keys share one xxhash64 value; "
                    "rerun this corpus with a raw-key members join"
                )
            ),
        )
        .otherwise(F.col("_h"))
        .alias("_h"),
        "rep",
        *names,
    )


def dedup_minhash_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.7,
    caches: list | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """EXT-D2 — MinHash+LSH near-dup pairs (id_a < id_b, jaccard >= threshold).

    Candidates come from equality on any band signature (shuffle join on the
    band key — each doc emits `bands` rows, so the join input is O(n·bands),
    never O(n²)); the true shingle-set Jaccard then filters false positives.

    ``collapse_exact`` (default, round 11) first collapses EXACT-dup
    classes (identical ``normalize_ws`` text ⇒ identical token sequence ⇒
    identical shingle set ⇒ identical signature AND jaccard) to min-id
    representatives: shingling, banding and Jaccard verification run over
    DISTINCT CONTENT only, and the member-level pair set is recovered
    EXACTLY by expansion — within-class pairs at jaccard 1.0 (classes
    with ≥1 token; empty-text docs have no shingles and never paired
    before either) plus cross-class rep pairs fanned out to member
    combinations (oriented by member id). The expansion joins are
    output-sized: on a copy-replicated ×r corpus the banding/verify work
    stays at distinct-content scale instead of growing r² per class
    (measured: the r10 ladder's worst entry, 4.0× wall at 10× data, is
    this corpus shape). Pass ``collapse_exact=False`` for the raw
    member-level pipeline.

    Persisted intermediates (each referenced 2-3× downstream) are
    appended to ``caches`` if given so the caller can ``unpersist()``
    once the result has been fully consumed; otherwise they stay cached
    until LRU eviction.
    """
    from pyspark.storagelevel import StorageLevel

    if bands <= 0 or n_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes}: a zero-width "
            "band would give every document the same signature (O(n²) "
            "candidates); a non-divisor silently discards minhashes"
        )
    if collapse_exact:
        norm = df.select(
            F.col(id_col).alias("m_id"),
            normalize_ws(text_col).alias("_nt"),
        )
        classes = norm.groupBy("_nt").agg(
            F.min("m_id").alias("rep"),
            F.count(F.lit(1)).alias("csize"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        if caches is not None:
            caches.append(classes)
        # members has THREE consumers below (mem_a, mem_b, within) and
        # Spark re-executes the scan→normalize→join-on-text subtree per
        # consumer — persist the projected form once (r13 A/B: full
        # query 2.77s → 2.37s best-of at sf0.1). Only the tiny
        # (member, rep, non-empty) triple is cached, never the text.
        #
        # NARROW-KEY join (r14, guide §2.3 "shuffle keys instead of
        # payloads"): member→rep assignment only needs CLASS IDENTITY,
        # so both join sides key on xxhash64(normalized text) — 8 bytes
        # per row through the exchange instead of the full document
        # text. classes itself keeps the raw-text groupBy: partial
        # aggregation already moves one text per map-partition-distinct
        # class (byte-optimal — the text must come out of the aggregate
        # anyway for shingling) and stays a codegen HashAggregate,
        # whereas hash-key grouping needs min/max(text) audit buffers.
        # COLLISION AUDIT, machine-checked: classes has exactly one row
        # per distinct text, so two classes rows sharing a hash == a
        # real 64-bit collision; the guard raise_errors mid-query
        # instead of silently merging two classes. NULL texts are
        # filtered on both sides, exactly like the raw-key equi-join
        # (SQL equality never matches NULL).
        ckeys = _class_keys(
            classes, "_nt", [(F.col("_nt") != "").alias("_ne")]
        )
        members = (
            norm.filter(F.col("_nt").isNotNull())
            .select("m_id", _class_hash(F.col("_nt")).alias("_h"))
            .join(ckeys, "_h")
            .select("m_id", "rep", "_ne")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if caches is not None:
            caches.append(members)
        reps = classes.select(
            F.col("rep").alias(id_col), F.col("_nt").alias(text_col)
        )
        rep_pairs = _minhash_pairs_raw(
            reps, text_col, id_col, n_hashes, bands, shingle_k,
            threshold, caches,
        )
        mem_a = members.select(
            F.col("rep").alias("id_a"), F.col("m_id").alias("ma")
        )
        mem_b = members.select(
            F.col("rep").alias("id_b"), F.col("m_id").alias("mb")
        )
        cross = (
            rep_pairs.join(mem_a, "id_a")
            .join(mem_b, "id_b")
            .select(
                F.least("ma", "mb").alias("id_a"),
                F.greatest("ma", "mb").alias("id_b"),
                "jaccard",
            )
        )
        w1 = members.filter(F.col("_ne")).select("rep", "m_id")
        within = (
            w1.alias("x")
            .join(w1.alias("y"), "rep")
            .filter(F.col("x.m_id") < F.col("y.m_id"))
            .select(
                F.col("x.m_id").alias("id_a"),
                F.col("y.m_id").alias("id_b"),
                round4(F.lit(1.0)).alias("jaccard"),
            )
        )
        if threshold > 1.0:  # degenerate: nothing can pass
            within = within.filter(F.lit(False))
        return cross.unionByName(within).orderBy("id_a", "id_b")
    return _minhash_pairs_raw(
        df, text_col, id_col, n_hashes, bands, shingle_k, threshold, caches
    ).orderBy("id_a", "id_b")


def _minhash_pairs_raw(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    bands: int,
    shingle_k: int,
    threshold: float,
    caches: list | None,
) -> DataFrame:
    """The member-level banding pipeline (unsorted): signatures → band
    self-join candidates → shared-shingle Jaccard verification. Factored
    out of :func:`dedup_minhash_lsh` so the collapse_exact path can feed
    representatives through it without paying an intermediate sort."""
    from pyspark.storagelevel import StorageLevel

    # ONE persisted shingle-hash table feeds signatures AND verification;
    # sigs persisted too — both sides of the band self-join read it
    sh = _shingle_hashes(df, text_col, id_col, shingle_k)
    sigs = minhash_signatures(
        df, text_col, id_col, n_hashes, shingle_k, sh=sh
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if caches is not None:
        caches.extend([sh, sigs])

    banded = band_rows(sigs, n_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # verify true Jaccard on candidates only, via shared-shingle counting
    # (joined to the candidate set — never all pairs)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    common = (
        cand.join(sh.select(F.col("id").alias("id_a"), "s"), "id_a")
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("s").alias("s")),
            on=["id_b", "s"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_from_counts(common, sizes, threshold)


def _jaccard_from_counts(
    common: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, common) × per-id set sizes → thresholded Jaccard."""
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            round4(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
    caches: list | None = None,
) -> DataFrame:
    """DIRECTED set-containment similarity join: ordered pairs
    (src, dst) with C(src, dst) = |S_src ∩ S_dst| / |S_src| >=
    threshold over k-shingle sets — the asymmetric companion to the
    Jaccard tiers: a short document quoted inside a long one scores
    C ≈ 1 even when Jaccard is tiny (quote detection, subset dedup,
    version-of containment).

    Candidate generation reuses the inverted-index equality join on
    shared shingle hashes (unordered a < b once), then BOTH directions
    are scored from the same common count and emitted independently —
    so the output can contain (a→b) without (b→a). Same scale shape as
    ngram_jaccard_pairs: key-equality shuffle, no all-pairs; the same
    stop-shingle caveat applies on skewed corpora (compose with the
    max_df/prefix tiers if needed)."""
    sh = _shingle_hashes(df, text_col, id_col, shingle_k)
    if caches is not None:
        caches.append(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    j = common.join(sa, "id_a").join(sb, "id_b")
    ab = j.select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        round4(F.col("common") / F.col("na")).alias("containment"),
    )
    ba = j.select(
        F.col("id_b").alias("src"),
        F.col("id_a").alias("dst"),
        round4(F.col("common") / F.col("nb")).alias("containment"),
    )
    return ab.unionByName(ba).filter(F.col("containment") >= threshold)


def dup_clusters(pairs: DataFrame, max_iters: int = 20,
                 strict: bool = True, shortcut: bool = True,
                 stats: dict | None = None,
                 driver_cc_max: int = 100_000) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id) with
    cluster_id = min doc id in the component. The dedup end-product: keep
    one representative per cluster, drop the rest.

    Iterative min-label propagation on DataFrames (no GraphFrames
    dependency): each round every node adopts the smallest label among
    itself and its neighbours. With ``shortcut=True`` (default) each
    round ALSO adopts its label's label — pointer jumping / path
    doubling (cf. the Hash-Greater-to-Min / large-star family of
    MapReduce CC algorithms) — so convergence is O(log diameter)
    instead of O(diameter): a 3000-node path converges in ~12 rounds
    where plain propagation needs 3000 (tests/test_cc_shortcut.py).
    The converged labels are IDENTICAL either way (the component min);
    shortcutting only changes round count, never the answer — which is
    why every oracled consumer is unaffected. Near-dup components are
    usually tiny, but at 100 TB one chain-shaped component (serial
    rewrites) would otherwise stall the whole job at max_iters. Each
    round is one shuffle (+ one label-to-label join when shortcutting);
    lineage is truncated with localCheckpoint so the loop doesn't build
    an exponential plan.

    SIZE DISPATCH (round 13): once the edge list is materialized its
    count is known for free, and when it is at most ``driver_cc_max``
    edges (default 100k ≈ a few MB of (src, dst) keys) the components
    are computed by a driver-side union-find and parallelized back —
    the same "finish the contracted graph locally once it fits on one
    machine" move the MapReduce-CC literature ends with (Kiveris et
    al., COSS 2014). A near-dup pair graph at this size costs ~15s of
    pure job-scheduling overhead in the distributed loop (each round =
    several 32-task jobs + an eager localCheckpoint) versus ~0.1s
    locally, and the labels are IDENTICAL (component min) by
    construction. Above the bound the distributed pointer-jumping loop
    runs as before — that is the 100 TB path. Pass driver_cc_max=0 to
    force the loop (the convergence tests do)."""
    from pyspark.storagelevel import StorageLevel

    # The loop consumes `edges` EVERY round; without a persist each
    # iteration re-evaluates the caller's pairs pipeline from scratch
    # (for q_dedup_semantic that meant re-running SRP bucketing + the
    # exact-cosine verify per pointer-jumping round — measured ~100s at
    # sf0.1, ~35s once materialized). MEMORY_AND_DISK per the r10
    # lesson (row-format localCheckpoint blocks lose to cached columnar
    # batches for multi-consumer frames).
    #
    # Symmetrization is ONE explode over ONE execution of `pairs`, not
    # pairs ∪ pairs.swapped: Spark does not reuse identical non-exchange
    # subtrees, so the union form executed the caller's whole pairs
    # pipeline twice just to flip two columns (r13 measured: the edge
    # materialization was 2× the pairs cost for q_dedup_semantic).
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select(F.col("_e.src").alias("src"), F.col("_e.dst").alias("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_edges = edges.count()  # materializes the persist in ONE job
    if n_edges <= driver_cc_max:
        # small regime: exact union-find on the driver — bounded
        # collect (<= driver_cc_max (src, dst) keys), labels identical
        # to the loop's fixpoint (component min)
        if stats is not None:
            stats["rounds"] = 0
            stats["driver_cc"] = True
        rows = edges.collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            s, d = r[0], r[1]
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rd] = rs
        comp_min: dict = {}
        for node in parent:
            root = find(node)
            cur = comp_min.get(root)
            if cur is None or node < cur:
                comp_min[root] = node
        out_rows = [(node, comp_min[find(node)]) for node in parent]
        from pyspark.sql.types import StructField, StructType

        id_type = edges.schema["src"].dataType
        schema = StructType(
            [
                StructField("id", id_type, False),
                StructField("cluster_id", id_type, False),
            ]
        )
        result = edges.sparkSession.createDataFrame(out_rows, schema)
        edges.unpersist()
        return result
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _round in range(max_iters):
        if stats is not None:
            stats["rounds"] = _round + 1
        neighbour_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbour_min, labels["id"] == neighbour_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
        )
        if shortcut:
            # pointer jumping: also adopt label(label) — halves the
            # remaining path length every round
            grand = labels.select(
                F.col("id").alias("_gid"), F.col("label").alias("_glabel")
            )
            new_labels = (
                new_labels.join(
                    grand, new_labels["label"] == grand["_gid"], "left"
                )
                .select(
                    "id",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("_glabel"), F.col("label")),
                    ).alias("label"),
                )
            )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # loop exhausted without a fixpoint: labels are NOT component minima
        if strict:
            raise RuntimeError(
                f"dup_clusters did not converge within max_iters={max_iters} "
                "(a component's diameter exceeds the round budget); raise "
                "max_iters or pass strict=False to accept partial labels"
            )
    edges.unpersist()  # labels is localCheckpointed — lineage is cut
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Final dedup: drop every document whose cluster representative
    (min id in its near-dup component) is a different document."""
    clusters = dup_clusters(pairs)
    drop = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    caches: list | None = None,
) -> DataFrame:
    """Exact Jaccard similarity join with PPJoin-style prefix filtering
    (Xiao et al., WWW 2008): provably LOSSLESS candidate pruning.

    Order each document's shingles by global document frequency (rarest
    first); with prefix length p = |d| - ⌈t·|d|⌉ + 1, any pair with
    Jaccard >= t MUST share a prefix shingle (if the prefixes were
    disjoint, the overlap is at most min(|a|,|b|) - p < t-required).
    The inverted-index self-join therefore runs on PREFIXES only:

    - candidate volume ~ (1-t)² of the full-index join at equal sizes;
    - df-ascending ordering pushes stop-shingles OUT of prefixes, so the
      hot-key skew of the naive index join largely disappears *without*
      a recall trade (unlike ``max_df``, this cut is exact).

    Verification recounts commons from full shingle sets — the output is
    exactly ``ngram_jaccard_pairs(threshold)``, which is what the oracle
    asserts. Cost: one extra shuffle to rank shingles (df join + window).
    """
    from pyspark.sql import Window

    sh = _shingle_hashes(df, text_col, id_col, shingle_k)
    if caches is not None:
        caches.append(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df_s"))
    ranked = (
        sh.join(dfreq, "s")
        .join(sizes, "id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy("df_s", "s")
            ),
        )
        # p = n - ceil(t·n) + 1 prefix shingles per doc
        .filter(
            F.col("rk")
            <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
        )
        .select("id", "s")
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    common = (
        cand.join(sh.select(F.col("id").alias("id_a"), "s"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "s"), on=["id_b", "s"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_from_counts(common, sizes, threshold)


def _srp_bucketed_native(
    df: DataFrame, id_col: str, vec_col: str,
    planes: list[list[float]], bands: int, rows_per_band: int,
) -> DataFrame:
    """(id, band, bucket) via native column expressions: one codegen
    projection holding bands×rows_per_band zip_with/aggregate folds.
    Deterministic sequential double arithmetic (matches the DuckDB oracle's
    list_sum fold literally), but interpreted HOFs — the slow path at
    scale. Kept for arithmetic-equivalence testing and as the no-Arrow
    fallback."""
    vd = df.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_vd"),
    )
    band_buckets = []
    for b in range(bands):
        bucket = None
        for j in range(rows_per_band):
            pv = F.array(
                *[F.lit(float(x)) for x in planes[b * rows_per_band + j]]
            )
            d = F.aggregate(
                F.zip_with(F.col("_vd"), pv, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bit = (
                F.when(d >= 0, F.lit(1 << j).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            bucket = bit if bucket is None else bucket + bit
        band_buckets.append(bucket.cast("long"))
    return vd.select(
        "id", F.posexplode(F.array(*band_buckets)).alias("band", "bucket")
    )


def _srp_bucketed_arrow(
    df: DataFrame, id_col: str, vec_col: str,
    planes: list[list[float]], bands: int, rows_per_band: int,
) -> DataFrame:
    """(id, band, bucket) via one Arrow-batched pandas_udf: the whole
    batch's plane projections are a single (n × dim) @ (dim × n_planes)
    BLAS matmul, then sign bits are packed per band vectorized. ~10× the
    native-HOF path (PERF.md §srp) — the scale default.

    BLAS may sum a dot product in a different order than the sequential
    fold, so a projection lying within ~1e-13 of zero could flip sign vs
    the oracle; embeddings are continuous, so exact-zero projections have
    measure zero (equivalence on real corpora is pinned by
    tests/test_dedup.py::test_srp_arrow_matches_native)."""
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64).T  # (dim, bands*r)
    weights = (1 << np.arange(rows_per_band)).astype(np.int64)

    @pandas_udf("array<long>")
    def _bk(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(v.map(lambda x: np.asarray(x, dtype=np.float64)).values)
        signs = (m @ P) >= 0  # (n, bands*rows_per_band)
        bks = signs.reshape(len(m), -1, rows_per_band) @ weights  # (n, bands)
        return pd.Series(list(bks.astype(np.int64)))

    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_bk(F.col(vec_col))).alias("band", "bucket"),
    )


def auto_rows_per_band(n: int, bands: int = 8) -> int:
    """Count-derived SRP rows_per_band (r12 verdict item 1): r =
    bit_length(n·b) clamped to [4, 63], i.e. 2^r ≈ n·b, so expected
    NOISE candidates ≈ C(n,2)·b/2^r ≈ n/2 at EVERY corpus size — linear
    scale-up instead of the quadratic blowup a fixed r suffers once n
    outgrows it (the r8-measured sizing law candidates ≈ n²·b/2^r).

    The tradeoff is the standard large-corpus one: a longer bucket key
    sharpens the banding S-curve toward high cosine, so at scale the
    surviving pairs are true near-duplicates (the regime semantic dedup
    targets), while EXACT-duplicate classes keep recall 1.0 regardless
    of r via the collapse_exact path (identical vectors share every
    bucket). On the base testdata the ≥0.4 pair tail is Gaussian noise
    by construction (64-dim isotropic vectors: zero pairs above cosine
    0.7 at any SF), so what sharper banding drops there is noise, not
    planted structure.

    The DuckDB oracle derives the SAME r in SQL — LEAST(63, GREATEST(4,
    length(bin(n·b)))) over count(*) — and computes the md5-seeded
    planes exactly in SQL (hi/2^32 + lo/2^64 split: every step is a
    single correctly-rounded IEEE op on both engines), so the static
    oracle text stays valid at every SF. Pinned equal to this function
    by tests.
    """
    return min(63, max(4, int(n * bands).bit_length()))


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    bands: int = 8,
    rows_per_band: int | None = 4,
    dim: int = 64,
    seed: int = 42,
    use_arrow: bool = True,
    collapse_exact: bool = True,
    caches: list | None = None,
) -> DataFrame:
    """EXT-D2 (fifth tier) — embedding-cosine near-dup: all pairs with
    cosine similarity >= threshold, found via banded sign-random-projection
    LSH (Charikar, STOC 2002) candidates + exact cosine verification.

    Candidate generation is a key-equality self-join on (band, bucket)
    where bucket = the ``rows_per_band`` sign bits of seeded hyperplane
    projections — O(n·bands) join input, never an O(n²) cross join, and
    SRP buckets over near-isotropic embeddings are balanced (no hot key).
    At 100 TB the bucketed frame is what you persist, partitioned by
    (band, bucket); candidate volume per band is Σ_buckets C(size, 2).

    A pair at cosine c survives banding with p = 1-(1-(1-θ/π)^r)^b,
    θ = acos(c): sharp near 1.0 for true duplicates (c >= 0.9 → p > 0.9999
    at r=4, b=8); the measured number on a corpus is pinned by
    ``q_dedup_embedding_recall``. Verification computes the exact cosine
    on candidates only (double-precision sequential fold, matching the
    DuckDB oracle bit-for-bit), so precision is 1.0 by construction.

    Hyperplanes are md5-seeded (similarity._seeded_projections) — fully
    deterministic, replicated literally in the oracle SQL.

    Bucket ids are BIGINT (round 11 — previously int32, capping
    rows_per_band at 31): the sizing law candidates ≈ n²·b/2^r demands
    r to grow with log2(n²·b), and ≥10M vectors need r > 31. r up to 63
    sign bits now packs into one int64 bucket key.

    rows_per_band=None (round 13) derives r from the corpus count via
    ``auto_rows_per_band`` — one cheap count() on the driver, then the
    plan is built for that r. Static ints remain supported for the
    fixed-config design-table queries.
    """
    if rows_per_band is None:
        rows_per_band = auto_rows_per_band(df.count(), bands)
    if rows_per_band > 63:
        raise ValueError(
            f"rows_per_band={rows_per_band} > 63: bucket sign bits must "
            "pack into one BIGINT key"
        )
    from data_wrangle_openstreetmaps_data_spark.functions.vectors import cosine

    if collapse_exact:
        # EXACT-dup vector collapse (round 11, same move as
        # dedup_minhash_lsh): identical float arrays get identical SRP
        # buckets AND identical cosines, so bucketing + the (interpreted
        # HOF) cosine verify run over DISTINCT VECTORS only; member
        # pairs are recovered exactly by output-sized expansion. On a
        # copy-replicated x r corpus the verify-pair count otherwise
        # grows r^2 per class (measured: the q_dedup_semantic ladder).
        from pyspark.storagelevel import StorageLevel

        classes = (
            df.groupBy(F.col(vec_col).alias("_v"))
            .agg(F.min(id_col).alias("rep"), F.count(F.lit(1)).alias("csize"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if caches is not None:
            caches.append(classes)
        # members has THREE consumers below (mem_a, mem_b, mm) — persist
        # the projected (m_id, rep) pair once instead of re-executing
        # the scan→join-on-vector subtree per consumer (r13, same move
        # as the minhash collapse path; the 512-byte vectors never ride
        # the cache).
        #
        # NARROW-KEY join (r14, guide §2.3 "shuffle keys instead of
        # payloads"): member→rep assignment only needs CLASS IDENTITY,
        # so both join sides key on xxhash64(vector) — 8 bytes per row
        # through the exchange instead of the raw 64-double array
        # (~530 B/row). classes keeps the raw-vector groupBy: partial
        # aggregation already moves one vector per map-partition-
        # distinct class (byte-optimal — the vector must come out of
        # the aggregate anyway for SRP bucketing) and stays a codegen
        # HashAggregate, whereas hash-key grouping puts min/max(array)
        # audit buffers into the aggregate and Spark demotes it to a
        # SortAggregate (measured by scripts/ab_collapse_key.py, in git
        # history — a sort + spill hazard at scale for zero byte
        # savings). Collisions
        # are machine-checked by _class_keys (raise, never merge).
        members = (
            df.filter(F.col(vec_col).isNotNull())
            .select(
                F.col(id_col).alias("m_id"),
                _class_hash(F.col(vec_col)).alias("_h"),
            )
            .join(_class_keys(classes, "_v"), "_h")
            .select("m_id", "rep")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if caches is not None:
            caches.append(members)
        reps = classes.select(
            F.col("rep").alias(id_col), F.col("_v").alias(vec_col)
        )
        rep_pairs = embedding_near_dup_pairs(
            reps, id_col, vec_col, threshold, bands, rows_per_band,
            dim, seed, use_arrow, collapse_exact=False,
        )
        mem_a = members.select(
            F.col("rep").alias("id_a"), F.col("m_id").alias("ma")
        )
        mem_b = members.select(
            F.col("rep").alias("id_b"), F.col("m_id").alias("mb")
        )
        cross = (
            rep_pairs.join(mem_a, "id_a")
            .join(mem_b, "id_b")
            .select(
                F.least("ma", "mb").alias("id_a"),
                F.greatest("ma", "mb").alias("id_b"),
                "cos_sim",
            )
        )
        # within-class pairs carry cosine(v, v) — round4(1 +/- ulp) =
        # 1.0; a zero vector yields NaN, and both Spark and DuckDB
        # order NaN GREATER than any number, so NaN >= threshold is
        # TRUE and the pair is emitted — exactly as the raw path's
        # candidate would be (symmetric across paths and engines)
        w1 = (
            classes.filter(F.col("csize") >= 2)
            .select(
                "rep",
                round4(cosine(F.col("_v"), F.col("_v"))).alias("selfcos"),
            )
            .filter(F.col("selfcos") >= threshold)
        )
        mm = members.select("rep", "m_id").join(w1, "rep")
        within = (
            mm.alias("x")
            .join(mm.alias("y"), "rep")
            .filter(F.col("x.m_id") < F.col("y.m_id"))
            .select(
                F.col("x.m_id").alias("id_a"),
                F.col("y.m_id").alias("id_b"),
                F.col("x.selfcos").alias("cos_sim"),
            )
        )
        return cross.unionByName(within)

    from data_wrangle_openstreetmaps_data_spark.operators.similarity import (
        _seeded_projections,
    )

    planes = _seeded_projections(dim, bands * rows_per_band, seed)
    bucketer = _srp_bucketed_arrow if use_arrow else _srp_bucketed_native
    bucketed = bucketer(df, id_col, vec_col, planes, bands, rows_per_band)
    a, b_ = bucketed.alias("a"), bucketed.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verify: norms precompute ONCE PER VECTOR (n rows) instead of
    # per candidate pair — cosine = dot/(na*nb) with the identical
    # IEEE expression tree (dot + sqrt·sqrt product), so values are
    # bit-for-bit the inline form's; only the interpreted
    # zip_with/aggregate work drops from 3 chains per pair to 1.
    from data_wrangle_openstreetmaps_data_spark.functions.vectors import (
        dot,
        norm,
    )

    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_ea"),
        norm(F.col(vec_col)).alias("_na"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_eb"),
        norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            round4(
                dot(F.col("_ea"), F.col("_eb"))
                / (F.col("_na") * F.col("_nb"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def exact_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    max_rows: int = 100_000,
    strict: bool = True,
) -> DataFrame:
    """All-pairs exact cosine join — the ground-truth baseline for recall
    measurement. DELIBERATELY quadratic (crossJoin): run it only at
    fixture/sample scale; at 100 TB you estimate recall on a sampled
    subset against this, never on the full corpus. The near-dup OPERATOR
    is ``embedding_near_dup_pairs``; this is its diagnostic.

    Because an unguarded cartesian product is THE textbook scale-killer,
    the input size is checked against ``max_rows`` (one cheap count):
    above it, ``strict=True`` (default) raises — same posture as
    ``dup_clusters(strict=True)`` — and ``strict=False`` falls back to a
    deterministic hash-sample of ≤ max_rows rows, which is exactly the
    sampled-recall protocol the docstring above prescribes."""
    from data_wrangle_openstreetmaps_data_spark.functions.vectors import cosine

    n = df.count()
    if n > max_rows:
        if strict:
            raise ValueError(
                f"exact_cosine_pairs: input has {n} rows > max_rows="
                f"{max_rows}; the all-pairs cross join is quadratic. "
                "Estimate recall on a sample (strict=False) or raise "
                "max_rows explicitly if you really mean it."
            )
        # keep ~max_rows rows deterministically: hash-mod on the id
        k = -(-n // max_rows)  # ceil
        df = df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(k)) == 0)
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_ea"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_eb"))
    return (
        va.crossJoin(vb)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            round4(cosine(F.col("_ea"), F.col("_eb"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def portable_token_hash(col) -> "F.Column":
    """60-bit md5-derived token hash, reproducible in any engine with md5
    (15 hex chars → bigint): the cross-engine-checkable alternative to
    xxhash64 for signature pipelines whose outputs leave the engine.
    Accepts a column name or a Column expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", bits: int = 60,
            token_hash: str = "md5") -> DataFrame:
    """SimHash per document: per token, a stable hash; signature bit i
    is the sign of the sum over tokens of (+1 if bit set else -1).

    Expressed as a sum over exploded (doc, token) pairs — partial aggregation
    makes it one shuffle keyed by doc id at any scale.

    ``token_hash='md5'`` (default) uses the portable 60-bit hash so the
    whole signature — and therefore candidate pairs and hamming distances —
    is reproducible by an external SQL oracle; pass ``'xxhash'`` (64-bit)
    for maximum throughput when signatures stay engine-internal."""
    if token_hash == "md5":
        if bits > 60:
            raise ValueError("md5 portable hash provides 60 bits")
        hash_expr = portable_token_hash("tok")
    elif token_hash == "xxhash":
        hash_expr = F.xxhash64("tok")
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    # explode_outer: empty/whitespace-only docs keep a (id, null) row, get
    # the all-zero signature, and still pair with each other downstream.
    # The hash is evaluated ONCE per token as the grouping key of a
    # (id, h)→weight pre-aggregation: projection collapse would otherwise
    # inline the hash expression into every one of the `bits` vote
    # aggregates (md5+conv codegen × 60 — measured 16.5s cold vs 3s).
    # The weight also preserves duplicate-token votes while shrinking the
    # wide-aggregate input to unique tokens per doc.
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens(text_col)).alias("tok"),
    )
    counted = (
        tok.select("id", hash_expr.alias("h"))
        .groupBy("id", "h")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    h = F.col("h")
    bit_votes = [
        F.sum(
            F.when(h.isNull(), 0)
            .when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.col("w"))
            .otherwise(-F.col("w"))
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    votes = counted.groupBy("id").agg(*bit_votes)
    sig = None
    for i in range(bits):
        # shiftleft, not lit(2**i): bit 63 overflows a long literal
        bit = F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return votes.select("id", sig.alias("simhash"))


def dedup_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunks: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs whose SimHash signatures share at least one
    16-bit chunk (Hamming distance <= chunks-1 guaranteed recall), ranked by
    exact Hamming distance. Join key = (chunk index, chunk value)."""
    sigs = simhash(df, text_col, id_col)
    chunk_bits = 64 // chunks
    mask = (1 << chunk_bits) - 1
    chunked = sigs.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", c * chunk_bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("chunk", "chunk_val"),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    xor = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    hamming = F.bit_count(xor)
    return cand.select("id_a", "id_b", hamming.alias("hamming"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    caches: list | None = None,
    max_df: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via an inverted index:
    explode distinct shingles, self-join on shingle (the index lookup),
    count shared shingles per pair, then Jaccard = |∩| / (|a|+|b|-|∩|).

    Never materializes all pairs — only pairs sharing >= 1 shingle, which for
    a high-entropy corpus is near-linear. Skewed (stop-)shingles degenerate
    the self-join toward all-pairs (a shingle in d docs contributes d²/2
    candidate rows): pass ``max_df`` to drop shingles appearing in more
    than ``max_df · n_docs`` documents from CANDIDATE GENERATION only —
    verification then recounts commons from the full shingle sets, so every
    emitted pair still carries its exact Jaccard. The (documented) recall
    trade: a pair similar ONLY through stop-shingles is not emitted —
    which is precisely the boilerplate-match class dedup wants to ignore."""
    # hashed-long shingle keys: 8-byte shuffle keys instead of ~20-byte
    # strings (collision odds ~n²/2⁶⁵ — negligible)
    sh = _shingle_hashes(df, text_col, id_col, shingle_k)
    if caches is not None:
        caches.append(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    if max_df is None:
        a, b = sh.alias("a"), sh.alias("b")
        common = (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
        # sizes is per-document (corpus cardinality) — NOT broadcast; AQE
        # picks the join strategy, and the pair table is the small side.
        return _jaccard_from_counts(common, sizes, threshold)
    # DF-cut path: hot shingles (df > max_df · n_docs) are few by
    # construction — broadcast anti-join strips them from the join input,
    # bounding candidate rows at O(n · max_df · n_docs) instead of O(n²).
    n_docs = df.count()
    cutoff = max(1, int(max_df * n_docs))
    hot = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df_s"))
        .filter(F.col("df_s") > cutoff)
        .select("s")
    )
    cold = sh.join(F.broadcast(hot), "s", "left_anti")
    a, b = cold.alias("a"), cold.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # verify with FULL shingle sets so jaccard is exact despite the cut
    common = (
        cand.join(sh.select(F.col("id").alias("id_a"), "s"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "s"), on=["id_b", "s"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_from_counts(common, sizes, threshold)
