"""Text-analysis operators over a documents table.

JVM-side column expressions wherever the semantics allow (token
counting, fingerprints, distributions); the heavier per-doc analysis
(quality features, language ID) reuses the pipeline's single-pass
Arrow UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def token_count_col(text_col: str = "text") -> Column:
    """Whitespace token count as a pure Catalyst expression.

    Semantics: number of non-empty chunks when splitting on single
    spaces — matches ``len([w for w in text.split(' ') if w])`` and the
    DuckDB oracle ``len(list_filter(string_split(text, ' '), x -> x <> ''))``.
    """
    return F.size(
        F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("n_tokens", token_count_col(text_col))


# GPT-2-style pre-tokenizer alternation, minus the lookahead clauses
# (which RE2 cannot run — keeping the pattern engine-portable) and the
# pure-whitespace tokens (which a BPE vocab absorbs into the following
# word's leading-space variant anyway).  Alternation is leftmost-first
# in BOTH Java regex and RE2's PCRE mode, and \p{L}/\p{N} are Unicode
# in both engines.  Whitespace is spelled as the EXPLICIT class
# [ \t\n\x0B\f\r] (== Java's ASCII \s) rather than \s, because the two
# engines' \s disagree on vertical tab (Java includes \x0B, RE2
# doesn't) — with the explicit class the match sequence, hence the
# count, is identical across Spark and DuckDB.
BPE_TOKEN_PATTERN = (
    r"'(?:[sdmt]|ll|re|ve)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+"
)


def bpe_token_count_col(text_col: str = "text") -> Column:
    """BPE-ish token count as ONE JVM regex scan (`regexp_count`) —
    the standard cheap proxy for tokenizer cost when budgeting a
    mixing run, without shipping a real BPE vocab to executors.
    Counts pre-tokenizer pieces (words, numbers, punctuation runs,
    English contraction suffixes), each of which a byte-BPE splits
    further but never merges across; the count is a stable lower
    bound that tracks real tokenizer counts linearly."""
    return F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_PATTERN))


def document_fingerprints(
    df: DataFrame, text_col: str = "text", hash: str = "xxhash64"
) -> DataFrame:
    """64-bit content fingerprints: exact (hash of the text) and a
    shift-resistant prefix fingerprint (hash of the first 8 tokens) —
    both JVM-side, no Python.

    ``hash="xxhash64"`` (default) is the scale path — the cheapest
    64-bit hash Spark has.  ``hash="md5"`` derives the 64 bits from
    the first 16 md5 hex chars instead: ~2-3x more CPU per doc, but
    bit-reproducible in other engines (the driver contract
    hash-verifies this mode against DuckDB; xxhash64 is JVM-specific,
    so its query is graded rows-only)."""
    tokens = F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
    prefix = F.concat_ws(" ", F.slice(tokens, 1, 8))
    if hash == "xxhash64":
        h = F.xxhash64
    elif hash == "md5":
        def h(col) -> F.Column:  # two 32-bit md5-derived halves
            hx = F.md5(col)
            lo = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
            hi = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
            return F.shiftleft(hi, 32).bitwiseOR(lo)
    else:
        raise ValueError(f"unknown fingerprint hash: {hash!r}")
    # NULL text -> NULL fingerprints in BOTH modes (xxhash64 of a null
    # argument would otherwise return its seed, and concat_ws would
    # turn the null token array into '' — either way a phantom
    # fingerprint for absent content, and an engine divergence for the
    # md5 oracle)
    present = F.col(text_col).isNotNull()
    return df.withColumn(
        "fp_exact", F.when(present, h(F.col(text_col)))
    ).withColumn("fp_prefix", F.when(present, h(prefix)))


def language_distribution(df: DataFrame, lang_col: str = "lang") -> DataFrame:
    return (
        df.groupBy(lang_col)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(lang_col)
    )


def sample_to_token_budget(
    df: DataFrame,
    budgets: dict,
    n_tokens_col: str = "n_tokens",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    order_by: str = "hash",
) -> DataFrame:
    """Training-data mixing: keep documents per language until that
    language's token budget is reached (greedy by a deterministic
    order).  A doc is kept while the running token total INCLUDING it
    stays <= the budget; languages missing from ``budgets`` are
    dropped.

    One window per language partition (cumulative sum ordered by a
    deterministic key) — scales as a single shuffle on ``lang_col``;
    salt via :mod:`hooqu_spark.ops.skew` if one language dominates and
    budgets allow partial ordering.

    ``order_by='hash'`` (default) takes a pseudo-random but
    deterministic sample (xxhash64 of the id); ``order_by='id'`` is
    reproducible across engines (used by the SQL-oracle contract
    query).
    """
    from pyspark.sql import Window
    from itertools import chain

    if not budgets:  # every language is unbudgeted (an empty map has no key type)
        return df.where(F.lit(False))
    key = (
        F.xxhash64(F.col(id_col)) if order_by == "hash" else F.col(id_col)
    )
    w = (
        Window.partitionBy(lang_col)
        .orderBy(key, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget_map = F.create_map(
        *[F.lit(x) for x in chain.from_iterable(budgets.items())]
    )
    cum = F.sum(F.col(n_tokens_col)).over(w)
    budget = budget_map[F.col(lang_col)]
    return (
        # unbudgeted languages are dropped OUTRIGHT (before the window):
        # a zero-token doc would otherwise satisfy cum(0) <= 0 against a
        # coalesced budget of 0 and leak through; the pre-filter also
        # prunes their rows from the shuffle entirely
        df.where(F.col(lang_col).isin(list(budgets)))
        .withColumn("_cum_tokens", cum)
        .where(F.col("_cum_tokens") <= budget)
        .drop("_cum_tokens")
    )


def normalized_text_col(
    text_col: str = "text",
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_punctuation: bool = False,
) -> Column:
    """Canonical text for DEDUP KEYS (CCNet-style normalization):
    duplicates that differ only in case / whitespace runs /
    punctuation hash identically after this.  Pure Catalyst (one
    projection, stays in codegen) — feed the result to
    :func:`document_fingerprints`, ``exact_dedup`` or the MinHash
    pipeline as the content column.  Normalization here affects only
    the KEY; the kept document text is untouched."""
    c = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    if strip_punctuation:
        c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]+", "")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


def mix_to_token_budget(
    df: DataFrame,
    weights: dict,
    total_tokens: int,
    strata_col: str = "source",
    n_tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    order_by: str = "hash",
) -> DataFrame:
    """Weighted training-data mixing: allocate ``total_tokens`` across
    strata (sources, languages, domains) proportionally to ``weights``
    (normalized driver-side), then greedily fill each stratum's budget
    — the "X% web, Y% code, Z% books" recipe, as one deterministic
    window per stratum (same single-shuffle plan as
    :func:`sample_to_token_budget`, which this delegates to)."""
    if total_tokens < 0:
        raise ValueError(f"total_tokens must be >= 0, got {total_tokens}")
    if any(v < 0 for v in weights.values()):
        # a negative weight would pass the sum check and silently
        # over-allocate the positive strata past total_tokens
        raise ValueError(f"weights must each be >= 0, got {weights!r}")
    z = float(sum(weights.values()))
    if not z > 0:
        raise ValueError(f"weights must sum to > 0, got {weights!r}")
    # a stratum whose budget truncates to 0 is dropped like an
    # unbudgeted one: its zero-token docs would pass cum(0) <= 0
    budgets = {
        k: b for k, v in weights.items() if (b := int(total_tokens * v / z)) > 0
    }
    return sample_to_token_budget(
        df, budgets, n_tokens_col, strata_col, id_col, order_by
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Full per-doc quality feature set (single Arrow UDF pass) —
    delegates to the pipeline's enrich stage."""
    from ..pipeline.core import enrich

    return enrich(df, text_col=text_col)
