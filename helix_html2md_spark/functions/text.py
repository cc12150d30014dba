"""Text-analysis functions for the large-scale training-data pipeline:
token counting, n-gram windows, document fingerprinting, quality
scoring and BPE-style pre-tokenization (language identification lives
in functions/langid.py).

All JVM-side (pyspark.sql.functions only — no Python UDFs), so they stay
inside whole-stage codegen and are SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# shared with the DuckDB oracles: keep the formulas byte-identical
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# ONE whitespace definition, written as an explicit class because the
# \s shorthand silently diverges between engines: Java's default \s is
# [ \t\n\x0B\f\r] while RE2 (DuckDB) EXCLUDES vertical tab \x0B — a
# document containing \x0B would tokenize differently on the two sides
# of the oracle.  Python's re \s is Unicode-aware and differs from BOTH
# (NBSP etc.), so any Python-side tokenization must use this class too.
WS_CLASS = r"[ \t\n\x0B\f\r]"


def tokens(col) -> Column:
    """Whitespace tokenization (empty-safe)."""
    return F.filter(
        F.split(F.trim(col), WS_CLASS + "+"), lambda w: w != F.lit("")
    )


def _nsize(arr) -> Column:
    """Null-safe size.  Under ANSI-off configs (every Spark 3.x default,
    a common user override on 4.x) ``size(NULL)`` returns -1 instead of
    NULL — silently corrupting counts and ratios for null-text rows
    (-1 tokens shifts pack offsets; ratios become -1.0 where the
    oracles say NULL).  nullif maps the sentinel back: a real array can
    never size to -1, so this is the identity under ANSI."""
    return F.nullif(F.size(arr), F.lit(-1))


def token_count(col) -> Column:
    return _nsize(tokens(col))


def char_count(col) -> Column:
    return F.length(col)


def token_ngrams(toks_col, n: int) -> Column:
    """Token n-grams over a TOKEN-ARRAY column, as space-joined strings.

    The one shared windower (dedup window hashing builds on it).
    Guarded: ``sequence(0, size-n)`` DESCENDS when ``size < n`` (Spark
    steps -1 toward a smaller stop), fabricating negative slice
    indices — a short document must yield an empty gram array
    instead."""
    if n < 1:
        raise ValueError("n must be >= 1")
    return F.when(
        F.size(toks_col) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks_col) - n),
            lambda i: F.concat_ws(" ", F.slice(toks_col, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def fingerprint(col) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set (equivalent of a bag-of-words content hash)."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens(col))), " ")
    )


def _stopword_count_t(toks) -> Column:
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return _nsize(F.filter(toks, lambda w: F.array_contains(stop, w)))


# the three ratio formulas below are transcribed into SQL in the DuckDB
# quality oracle; quality_features applies them to one shared token
# array


def _mean_token_len_t(toks) -> Column:
    return F.round(
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        )
        / F.greatest(F.size(toks), F.lit(1)),
        6,
    )


def _stopword_ratio_t(toks) -> Column:
    return F.round(
        _stopword_count_t(toks) / F.greatest(F.size(toks), F.lit(1)), 6
    )


def _unique_ratio_t(toks) -> Column:
    return F.round(
        _nsize(F.array_distinct(toks))
        / F.greatest(F.size(toks), F.lit(1)),
        6,
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality features: token count, mean token length,
    stopword ratio, unique-token ratio.

    Tokenizes ONCE: the features all read a materialized ``_toks``
    column through the array-based ``_t`` internals, where tokenizing
    per feature would inline a separate regexp split for each
    (CollapseProject leaves a multiply-referenced non-cheap projection
    alone, so the shared column genuinely computes once)."""
    c = F.col(text_col)
    t = F.col("_toks")
    return (
        df.withColumn("_toks", tokens(c))
        .select(
            "doc_id",
            _nsize(t).alias("n_tokens"),
            char_count(c).alias("n_chars"),
            _mean_token_len_t(t).alias("mean_token_len"),
            _stopword_ratio_t(t).alias("stopword_ratio"),
            _unique_ratio_t(t).alias("unique_ratio"),
        )
    )


# BPE-style pre-tokenizer (GPT-2-ish): contraction suffixes, space-glued
# letter runs, digit runs, punctuation runs, whitespace runs.  Pure
# alternation, no lookaround, explicit whitespace class (see WS_CLASS) —
# identical leftmost-first semantics in Java regex (Spark) and RE2
# (DuckDB), so it is SQL-oracle-checkable.
BPE_PRETOKEN_RE = (
    r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^ \t\n\x0B\f\rA-Za-z0-9]+|"
    + WS_CLASS + "+"
)


def bpe_tokens(col) -> Column:
    """BPE-ish pre-token segments (the units a byte-pair encoder would
    merge within); whitespace runs are kept as segments so that
    concat(tokens) == original text (lossless segmentation)."""
    return F.regexp_extract_all(col, F.lit(BPE_PRETOKEN_RE), 0)


def bpe_token_count(col) -> Column:
    """Count of non-whitespace BPE pre-tokens (≈ LLM token estimate)."""
    return F.size(
        F.filter(bpe_tokens(col), lambda t: ~t.rlike("^" + WS_CLASS + "+$"))
    )


# DuckDB oracle fragments (must mirror the Spark formulas exactly —
# built FROM the same WS_CLASS constant so they cannot drift)
SQL_TOKENS = (
    "list_filter(str_split_regex(trim({c}), '"
    + WS_CLASS
    + "+'), x -> x <> '')"
)
SQL_STOPWORDS = "['" + "','".join(STOPWORDS) + "']"
