"""Text-analysis operators: token stats, quality scoring, language ID,
document fingerprinting.

All pure JVM-side column expressions (no UDFs) with exact DuckDB
oracles. The regex vocabulary is restricted to the subset with
identical semantics in Java regex (Spark) and RE2 (DuckDB): literal
classes, ``\\s+``, anchored character sets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deep_query_optimization_spark.functions import hash64, words

# marker stopwords per language for the n-gram/stopword-count heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "de", "et", "un"),
    "de": ("der", "die", "das", "und", "ein"),
}
STOPWORDS = tuple(sorted({w for ws in LANG_MARKERS.values() for w in ws}))


def token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(F.size(words(c))).cast("long")


# BPE-style pretokenizer (GPT-2-family shape, ASCII-simplified so Java
# regex and RE2/DuckDB agree token-for-token): lowercase runs,
# capitalized runs, 1-3 digit groups (BPE splits long numbers), single
# punctuation marks
BPE_PRETOKEN_RE = r"[a-z]+|[A-Z][a-z]*|[0-9]{1,3}|[^A-Za-z0-9\s]"


def subword_token_count(col: Column | str) -> Column:
    """BPE-ish token count — the pretokenizer pass of a GPT-2-style
    tokenizer as a pure JVM regex scan. The count (not the pieces) is
    what a training pipeline budgets with: sequence packing, per-doc
    token quotas, corpus token accounting at 100 TB — one scan, no
    Python."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PRETOKEN_RE), F.lit(0))).cast("long")


def _count_in_list(col: Column | str, vocab: tuple[str, ...]) -> Column:
    """How many tokens of ``col`` are in ``vocab`` — via array_intersect
    on distinct tokens? No: multiplicity matters for ratios; use
    filter() over the token array (JVM lambda, no UDF)."""
    w = words(col)
    arr = F.array(*[F.lit(v) for v in vocab])
    return F.size(F.filter(w, lambda t: F.array_contains(arr, t))).cast("long")


def _quality_cols(text_col: str) -> list[Column]:
    """The quality-feature output columns (aliased, in contract order)."""
    c = F.col(text_col)
    n_chars = F.length(c).cast("long")
    n_tokens = token_count(c)
    n_stop = _count_in_list(c, STOPWORDS)
    # punctuation = chars that are not letters/digits/space
    n_punct = F.length(F.regexp_replace(c, "[a-zA-Z0-9 ]", "")).cast("long")
    stop_ratio = F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6)
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    mean_tok_len = F.round(
        (F.length(F.regexp_replace(c, " ", "")) / F.greatest(n_tokens, F.lit(1))), 6
    )
    score = F.round(
        F.when((n_tokens >= 5) & (n_tokens <= 1000), 0.4).otherwise(0.0)
        + F.when(punct_ratio < 0.1, 0.3).otherwise(0.0)
        + F.when((stop_ratio > 0.05) & (stop_ratio < 0.6), 0.3).otherwise(0.0),
        2,
    )
    band = (
        F.when(score >= 0.7, "high").when(score >= 0.4, "mid").otherwise("low")
    )
    return [
        n_chars.alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
        mean_tok_len.alias("mean_tok_len"),
        score.alias("quality_score"),
        band.alias("quality_band"),
    ]


def _lang_cols(text_col: str) -> list[Column]:
    """The language-ID output columns (aliased, in contract order)."""
    counts = {lang: _count_in_list(F.col(text_col), markers) for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    pred = F.lit("und")
    # reversed sort → earlier language codes win ties (en < es < fr …
    # applied last wins in when-chain construction below)
    for lang in sorted(counts, reverse=True):
        pred = F.when((counts[lang] > 0) & (counts[lang] == best), lang).otherwise(pred)
    return [pred.alias("pred_lang")] + [counts[lang].alias(f"hits_{lang}") for lang in sorted(counts)]


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Length / punctuation / stopword-ratio features + quality band.

    The quality score mirrors common LLM-corpus heuristics (length in
    range, low punctuation noise, healthy stopword ratio)."""
    return df.select(F.col(id_col), *_quality_cols(text_col))


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-count language heuristic: argmax over per-language
    marker hit counts, deterministic tie-break by language code,
    'und' when nothing matches."""
    return df.select(F.col(id_col), *_lang_cols(text_col))


def quality_langid(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Quality features + language ID in ONE scan — column-for-column
    identical to ``quality_features(df).join(lang_id(df), id_col)``
    (both sides are per-doc projections over the same unique key, so
    the 1:1 inner join is just column concatenation). The join form
    would scan documents twice and pay a shuffle join for columns
    computable side by side in one projection (guide §2.4).
    The input is spread across cores first — the regex/array work is
    CPU-bound and a small parquet input arrives as one split."""
    from deep_query_optimization_spark.functions import parallelize_input

    return parallelize_input(df).select(
        F.col(id_col), *_quality_cols(text_col), *_lang_cols(text_col)
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content fingerprint: 60-bit md5-prefix digest (cross-engine) —
    the join-key form of exact dedup."""
    return df.select(F.col(id_col), hash64(F.col(text_col)).alias("fp"))


def rolling_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    base: int = 257,
    mod: int = 9007199254740881,  # largest prime < 2^53: acc*base < 2^62, no int64 overflow
) -> DataFrame:
    """Rabin–Karp rolling hashes of character ``window``-grams — the
    fingerprint family used for containment/overlap detection (winnowing).
    Pure JVM: transform over a character-index sequence with aggregate.

    Returns (id, min_rk, n_windows) — the minimum window hash (a
    1-fingerprint winnow); full winnowing keeps per-stride minima,
    which at scale would be sampled by residue classes of ``mod``."""
    c = F.trim(F.col(text_col))
    n = F.length(c)
    idx = F.sequence(F.lit(1), F.greatest(n - window + 1, F.lit(0)))
    win_hash = F.transform(
        idx,
        lambda i: F.aggregate(
            F.transform(F.sequence(i, i + window - 1), lambda j: F.ascii(F.substring(c, j, F.lit(1)))),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * base + ch) % mod,
        ),
    )
    return df.select(
        F.col(id_col),
        F.array_min(win_hash).alias("min_rk"),
        F.size(win_hash).cast("long").alias("n_windows"),
    )
