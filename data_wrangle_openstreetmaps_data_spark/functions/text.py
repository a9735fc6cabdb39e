"""Text-analysis functions for training-data pipelines (EXT, SURVEY.md §2.7).

All native column expressions — tokenization, shingling, quality scoring,
language ID, fingerprinting run JVM-side inside whole-stage codegen, so the
per-document cost is a few string ops: exactly what you want when the
documents table is 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WHITESPACE_RE = r"\s+"

# BPE-ish word/piece splitter: words, numbers, or single punctuation marks.
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword lists for the n-gram/stopword language heuristic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("的", "是", "了", "在", "我"),
}

STOPWORDS_EN = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")


def normalize_ws(text: Column | str) -> Column:
    """Lowercase + collapse whitespace + trim: the canonical form used by
    fingerprinting and dedup."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), WHITESPACE_RE, " "))


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of the lowercased text (empty tokens removed)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), WHITESPACE_RE), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    return F.when(F.length(c) > 0, F.length(stripped) / F.length(c)).otherwise(
        F.lit(0.0)
    )


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are common English stopwords."""
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def round4(c: Column | str) -> Column:
    """Portable half-up 4-dp rounding: floor(x*1e4 + 0.5)/1e4. Unlike
    engine-native round(), this is a pure function of the input double, so
    two engines computing the same double always agree at the boundary."""
    col = F.col(c) if isinstance(c, str) else c
    return F.floor(col * 10000 + F.lit(0.5)) / 10000


def quality_score(text: Column | str) -> Column:
    """Composite heuristic quality score in [0,1]: length sweet-spot,
    low punctuation density, presence of stopwords (prose-likeness)."""
    n_tok = token_count(text)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))
    stop_score = F.least(stopword_ratio(text) * 4, F.lit(1.0))
    return round4(len_score * 0.4 + punct_score * 0.3 + stop_score * 0.3)


def _stopword_hits(toks: Column, stopwords: tuple[str, ...]) -> Column:
    # single-arg lambda required: a 2-arg lambda would receive (element, index)
    return F.size(F.filter(toks, lambda t: t.isin(*stopwords)))


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword hit counts (the n-gram heuristic's signal)."""
    toks = tokens(text)
    return {
        lang: _stopword_hits(toks, sw) for lang, sw in LANG_STOPWORDS.items()
    }


def lang_id(text: Column | str) -> Column:
    """Predicted language = argmax of stopword hits, ties broken by language
    code order, 'und' (undetermined) when no list scores > 0."""
    scores = lang_scores(text)
    langs = sorted(scores)
    best = None
    best_score = None
    for lang in langs:
        s = scores[lang]
        if best is None:
            best, best_score = F.lit(lang), s
        else:
            cond = s > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, s).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und"))


def lang_id_table(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, pred) — relational scale form of ``lang_id``: tokens exploded
    ONCE, per-language stopword hits as codegen conditional counts, argmax
    with first-language tie-break (same semantics as the column expr).

    The column-expression form re-evaluates the token array per language
    in interpreted HOFs (measured 4.5s vs 0.6s at sf0.1)."""
    langs = sorted(LANG_STOPWORDS)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens(text_col)).alias("tok"),  # outer: keep empty docs
    )
    scores = toks.groupBy("id").agg(
        *[
            F.count(F.when(F.col("tok").isin(*LANG_STOPWORDS[la]), 1)).alias(
                f"s_{la}"
            )
            for la in langs
        ]
    )
    m = F.greatest(*[F.col(f"s_{la}") for la in langs])
    pred = F.lit("und")
    # first-max wins: build the chain back-to-front so earlier langs take
    # priority on ties
    for la in reversed(langs):
        pred = F.when(F.col(f"s_{la}") == m, F.lit(la)).otherwise(pred)
    pred = F.when(m == 0, F.lit("und")).otherwise(pred)
    return scores.select("id", pred.alias("pred"))


SOUNDEX_DIGITS = "01230120022455012623010202"
_AZ = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def soundex_code(c: Column | str) -> Column:
    """Simplified American Soundex (without the H/W-transparency rule),
    built ONLY from engine-portable string primitives — upper, strip
    non-letters, translate letters→digit classes, collapse adjacent
    equal digits, drop the leading code, delete zeros, pad to
    letter+3 — so the identical algorithm runs as DuckDB SQL in the
    oracle (engine-native soundex() variants disagree across engines on
    exactly the H/W corner, which is why the shared spec avoids it).
    NULL for inputs with no letters. The phonetic blocking key for
    record linkage: 'kolkata' and 'Kolkata' and near-misspellings land
    in one block."""
    col = F.col(c) if isinstance(c, str) else c
    u = F.upper(F.regexp_replace(col, "[^A-Za-z]", ""))
    digits = F.translate(u, _AZ, SOUNDEX_DIGITS)
    collapsed = F.regexp_replace(digits, r"(\d)\1+", "$1")
    cleaned = F.translate(
        collapsed.substr(F.lit(2), F.length(collapsed)), "0", ""
    )
    sdx = F.concat(
        F.substring(u, 1, 1),
        F.rpad(F.substring(cleaned, 1, 3), 3, "0"),
    )
    return F.when(F.length(u) > 0, sdx)


def fingerprint(text: Column | str, length: int = 16) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace-normalized
    lowercase text, truncated. (Rolling-hash analog with an exact,
    portable hash — identical in Spark and DuckDB.)"""
    return F.substring(F.md5(normalize_ws(text)), 1, length)


def shingles(text: Column | str, k: int = 5) -> Column:
    """k-token shingles (space-joined) of the normalized text; documents
    shorter than k tokens yield their full token string as one shingle.

    Implemented as a single ``aggregate`` fold (sliding window in the
    accumulator) rather than ``transform(sequence(...), i -> slice(toks, i,
    k))``: inside a lambda Spark re-evaluates the captured array expression
    per element, which turns the naive form into O(n²) re-tokenization per
    document — measured 6× slower on the bench corpus."""
    toks = tokens(text)
    init = F.struct(
        F.array().cast("array<string>").alias("buf"),
        F.array().cast("array<string>").alias("out"),
    )

    def step(acc: Column, t: Column) -> Column:
        buf, out = acc["buf"], acc["out"]
        full = F.size(buf) == k - 1
        new_buf = F.when(full, F.concat(F.slice(buf, 2, k - 2), F.array(t))) \
            .otherwise(F.concat(buf, F.array(t))) if k > 1 else buf
        new_out = F.when(
            full, F.concat(out, F.array(F.array_join(F.concat(buf, F.array(t)), " ")))
        ).otherwise(out)
        return F.struct(new_buf.alias("buf"), new_out.alias("out"))

    folded = F.aggregate(toks, init, step, lambda acc: acc["out"])
    return F.when(F.size(folded) > 0, folded).otherwise(
        F.array(F.array_join(toks, " "))
    )


def shingle_table(df, text_col: str = "text", id_col: str = "doc_id",
                  k: int = 5):
    """(id, shingle) rows — the scale path for shingling.

    posexplode + window ``lead`` stays inside whole-stage codegen, unlike
    array higher-order functions which Spark evaluates interpreted
    per-element (measured ~6× slower on the bench corpus). The window
    shuffles by document id — at 100 TB that's the same partitioning the
    downstream dedup shuffle needs anyway. Semantics match ``shingles()``:
    per-document token k-grams, short docs yield their whole token string.
    """
    from pyspark.sql import Window

    toks = tokens(text_col)
    long_side = df.select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    # a shingle is complete iff the last lead exists — no size() column, so
    # the tokenize expression is evaluated exactly once per document
    shingled = (
        long_side.select(
            "id",
            F.concat_ws(" ", *parts).alias("shingle"),
            parts[-1].isNotNull().alias("_complete"),
        )
        .filter("_complete")
        .select("id", "shingle")
    )
    short_side = (
        df.select(
            F.col(id_col).alias("id"),
            F.array_join(toks, " ").alias("shingle"),
            F.size(toks).alias("n"),
        )
        .filter(F.col("n") < k)
        .select("id", "shingle")
    )
    return shingled.unionByName(short_side)
