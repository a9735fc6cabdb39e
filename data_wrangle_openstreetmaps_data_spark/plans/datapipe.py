"""End-to-end training-data curation pipeline.

The EXT operators composed the way a real LLM-data pipeline runs them::

    ingest → language filter → quality gate → exact dedup
           → near-dup clustering → keep representatives
           → fingerprint → curated store

Stage order matters at scale: the cheap row-wise filters (language,
quality) and the cheap hash-groupBy exact dedup run BEFORE near-dup
detection, so the expensive candidate joins see the smallest corpus.
Note the near-dup clustering stage is inherently EAGER (iterative
connected components with per-round checkpoints) — everything before it
stays lazy, everything after it is a narrow projection.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_wrangle_openstreetmaps_data_spark.functions import text
from data_wrangle_openstreetmaps_data_spark.operators import dedup


@dataclass
class CurationResult:
    curated: DataFrame
    stats: dict[str, int]
    # persisted intermediates still referenced by `curated` — callers that
    # are done with the result can unpersist them
    caches: list = None


def curate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    languages: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    near_dup_threshold: float = 0.7,
    minhash_n: int = 16,
    minhash_bands: int = 8,
    shingle_k: int = 3,
    out_store: str | None = None,
    collect_stats: bool = True,
) -> CurationResult:
    """Run the curation pipeline; returns the curated frame + per-stage
    retention counts (the numbers every data card reports).

    ``collect_stats=False`` skips the per-stage count() actions (use for
    production runs, stats for data cards). The clustering stage still
    executes eagerly either way — see the module docstring."""

    def _n(df):
        return df.count() if collect_stats else -1

    stats: dict[str, int] = {"input": _n(docs)}

    # internal output columns must not collide with caller columns
    for col in ("pred", "quality", "fp"):
        if col in docs.columns:
            docs = docs.drop(col)

    # language filter (predicted, not trusted metadata)
    preds = text.lang_id_table(docs, text_col, id_col).withColumnRenamed(
        "id", id_col
    )
    docs = docs.join(preds, id_col).filter(F.col("pred").isin(*languages))
    stats["after_lang_filter"] = _n(docs)

    # quality gate
    docs = docs.withColumn("quality", text.quality_score(text_col)).filter(
        F.col("quality") >= min_quality
    )
    held: list = []
    if collect_stats:
        # each stage count would otherwise re-execute the whole prefix
        # (lang explode + joins) from the source scan
        from pyspark.storagelevel import StorageLevel

        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(docs)
    stats["after_quality"] = _n(docs)

    # exact dedup: keep min-id representative per normalized text
    keep_exact = dedup.dedup_exact(docs, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    docs = docs.join(keep_exact, id_col)
    stats["after_exact_dedup"] = _n(docs)

    # near-dup: minhash candidates → connected components → keep reps.
    # More, narrower bands than the standalone query default: recall of
    # the banding step rises steeply with band count (1-(1-j^r)^b), and
    # the verified-Jaccard filter removes the extra false candidates.
    caches: list = []
    pairs = dedup.dedup_minhash_lsh(
        docs,
        text_col,
        id_col,
        n_hashes=minhash_n,
        bands=minhash_bands,
        shingle_k=shingle_k,
        threshold=near_dup_threshold,
        caches=caches,
    )
    # dup_clusters inside is eager (checkpointed label propagation), so the
    # drop-list is materialized here; localCheckpoint it so the persisted
    # minhash intermediates can be released immediately
    clusters = dedup.dup_clusters(pairs)
    drop = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    ).localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    docs = docs.join(drop, on=id_col, how="left_anti")
    stats["after_near_dedup"] = _n(docs)

    curated = docs.withColumn("fp", text.fingerprint(text_col)).select(
        id_col, text_col, "pred", "quality", "fp"
    )
    if out_store:
        curated.write.mode("overwrite").parquet(out_store)
    # a narrow projection cannot change the row count — reuse the stage
    # count instead of re-executing the whole plan
    stats["curated"] = stats["after_near_dedup"]
    return CurationResult(curated=curated, stats=stats, caches=held)


def curate_v2(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    max_dup_token_frac: float = 0.65,
    min_quality_quantile: float = 0.25,
    decontam_k: int = 5,
    bench_modulus: int = 29,
    collect_stats: bool = True,
) -> CurationResult:
    """Round-3 curation pipeline — the data-release shape::

        ingest → benchmark split-off → PII scrub
               → repetition cut (dup-token fraction)
               → per-language quality-quantile cut
               → exact dedup → decontaminate vs benchmark
               → (id, lang, quality, fp)

    Everything is lazy and relational (no eager clustering stage — the
    near-dup path is pipeline v1); each stage is replicated in the
    composed DuckDB oracle of ``q_curation_pipeline_v2``, so the WHOLE
    pipeline — not just its pieces — is value-checked cross-engine.

    Stage order at scale: the benchmark split and scrub ride the scan;
    the repetition/quality stats are doc-keyed aggregations over the
    already-reduced corpus; exact dedup is one hash groupBy; the
    decontamination join (broadcast bench shingles) runs LAST, on the
    smallest surviving corpus."""
    from data_wrangle_openstreetmaps_data_spark.operators import curation

    def _n(df):
        return df.count() if collect_stats else -1

    stats: dict[str, int] = {"input": _n(docs)}

    bench = docs.filter(F.col(id_col) % bench_modulus == 0)
    train = docs.filter(F.col(id_col) % bench_modulus != 0)
    stats["train_split"] = _n(train)

    # PII scrub: release the scrubbed text; counts not carried forward
    scrubbed = curation.pii_scrub(train, text_col, out_col="_sc").select(
        F.col(id_col), F.col(lang_col), F.col("_sc").alias(text_col)
    )

    held: list = []
    if collect_stats:
        from pyspark.storagelevel import StorageLevel

        # every later stage count re-executes the prefix otherwise
        scrubbed = scrubbed.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(scrubbed)

    # repetition cut: drop boilerplate-heavy docs
    rep = curation.gopher_quality_stats(scrubbed, text_col, id_col).select(
        F.col(id_col), "dup_token_frac"
    )
    kept = scrubbed.join(
        rep.filter(F.col("dup_token_frac") <= max_dup_token_frac).select(id_col),
        id_col,
    )
    stats["after_repetition_cut"] = _n(kept)

    # per-language quality-quantile cut (keeps quality + q_rank columns)
    qf = curation.quantile_filter(
        kept,
        quality_col=text.quality_score(text_col),
        min_quantile=min_quality_quantile,
        strata_col=lang_col,
        id_col=id_col,
    ).select(F.col(id_col), "quality")
    kept = kept.join(qf, id_col)
    stats["after_quality_quantile"] = _n(kept)

    # exact dedup: min-id representative per normalized scrubbed text
    keep_exact = dedup.dedup_exact(kept, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    kept = kept.join(keep_exact, id_col)
    stats["after_exact_dedup"] = _n(kept)

    # decontaminate: drop anything sharing a k-gram with the benchmark
    contaminated = (
        curation.decontaminate_overlap(
            kept, bench, k=decontam_k, min_shared=1,
            text_col=text_col, id_col=id_col,
        )
        .select(F.col("train_id").alias(id_col))
        .dropDuplicates([id_col])
    )
    kept = kept.join(contaminated, on=id_col, how="left_anti")
    stats["after_decontamination"] = _n(kept)

    curated = kept.select(
        F.col(id_col),
        F.col(lang_col),
        "quality",
        text.fingerprint(text_col).alias("fp"),
    )
    stats["curated"] = stats["after_decontamination"]
    return CurationResult(curated=curated, stats=stats, caches=held)


def ingest_batch(
    spark,
    batch: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental curation driver — one batch against the accumulated
    corpus state, the batch-over-batches orchestration of
    ``dedup_incremental`` + ``minhash_lsh_join``::

        state (parquet: id, text, fp of every accepted doc)
        batch in → within-batch exact dedup (min id per fingerprint)
                 → exact anti-join vs state fingerprints
                 → near-dup drop vs state docs (banded MinHash join,
                   exact-Jaccard verified)
        accepted docs out → appended to state

    Returns the accepted (id, fp) rows. The FIRST batch (empty state)
    gets exact dedup only — near-dups WITHIN a batch are deliberately
    kept (the corpus-vs-batch contract; run ``curate``'s clustering
    stage per batch first if within-batch near-dedup is wanted), which
    is what makes N sequential calls exactly equal to the composed
    one-shot semantics the ``q_curation_incremental`` oracle states.

    100 TB posture: state is an at-rest parquet table that only ever
    APPENDS; the exact stage moves fingerprints (16-char strings), the
    fuzzy stage is the banded key-equality join over the tagged union —
    never all-pairs. The accepted frame is localCheckpointed before the
    state append so the returned DataFrame does not depend on the files
    it is about to extend (and survives state-dir cleanup)."""
    import os

    from data_wrangle_openstreetmaps_data_spark.operators import dedup

    docs_path = os.path.join(state_dir, "docs")
    fp = text.fingerprint(text_col)
    tagged = batch.select(F.col(id_col), F.col(text_col), fp.alias("fp"))
    reps = tagged.groupBy("fp").agg(F.min(id_col).alias(id_col))
    novel = tagged.join(reps, [id_col, "fp"])

    corpus = None
    if os.path.isdir(docs_path):
        corpus = spark.read.parquet(docs_path)
        novel = novel.join(
            corpus.select("fp").dropDuplicates(["fp"]), "fp", "left_anti"
        )
        near = dedup.minhash_lsh_join(
            novel,
            corpus,
            text_col=text_col,
            id_col=id_col,
            n_hashes=n_hashes,
            bands=bands,
            shingle_k=shingle_k,
            threshold=threshold,
        )
        drop = near.select(
            F.col("left_id").alias(id_col)
        ).dropDuplicates([id_col])
        novel = novel.join(drop, id_col, "left_anti")

    accepted = novel.select(id_col, text_col, "fp").localCheckpoint(
        eager=True
    )
    accepted.write.mode("append").parquet(docs_path)
    return accepted.select(id_col, "fp")
