"""Corpus-level training-data curation operators.

Operations that look at the WHOLE corpus, not one document at a time:

* :func:`dedup_lines_by_frequency` — C4/CCNet-style boilerplate
  removal: drop every line whose corpus-wide frequency exceeds a cap
  (navigation bars, cookie banners, footers repeat across pages), then
  reassemble documents preserving line order.
* :func:`stratified_sample` — deterministic per-stratum sampling by an
  md5-derived uniform hash (reproducible across engines, partitionings
  and retries; no ``rand()``).
* :func:`flag_contamination` — benchmark decontamination: flag
  training documents sharing at least ``min_overlap`` distinct word
  n-grams with a (small) benchmark/eval set.

All three are pure Catalyst plans (split / explode / window /
broadcast join) — no Python kernels — and each has a DuckDB oracle in
the driver contract.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _shingles_of_words, _words_of, shingle_frame


def dedup_lines_by_frequency(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_occurrences: int = 2,
    min_line_chars: int = 1,
) -> DataFrame:
    """Remove lines that occur more than ``max_occurrences`` times in
    the corpus and rebuild each document (line order preserved).

    Returns the input rows with ``text_col`` REPLACED by the cleaned
    text plus ``n_lines_removed``.  Documents whose every line was
    boilerplate come back with empty text (callers typically chain a
    min-length rule afterwards).

    Plan: ``posexplode(split(text, '\\n'))`` -> two-phase count by line
    (map-side partial combine; hot boilerplate lines are exactly the
    high-frequency keys the partial aggregation collapses early) ->
    shuffle join lines against their corpus counts -> per-doc
    ``sort_array(collect_list(struct(pos, line)))`` reassembly.  The
    only all-to-all movement is keyed by line content and by doc id —
    never all-pairs.  ``min_line_chars`` exempts very short lines from
    counting toward removal (empty lines/separators are structural, not
    boilerplate) — lines shorter than the threshold are always kept.
    The default (1) exempts exactly the empty lines: any real corpus
    has more than ``max_occurrences`` blank separator lines, and
    removing them would strip paragraph structure from every document.
    """
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("_pos", "_line"),
    )
    counted = (
        lines.where(F.length("_line") >= min_line_chars)
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > max_occurrences)
        .select("_line")
    )
    kept = lines.join(counted, on="_line", how="left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("_pos", "_line"))
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("_new_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    n_lines = F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"))
    return (
        df.join(rebuilt, df[id_col] == rebuilt["_id"], "left")
        .withColumn(
            "n_lines_removed",
            n_lines - F.coalesce(F.col("_n_kept"), F.lit(0)),
        )
        .withColumn(text_col, F.coalesce(F.col("_new_text"), F.lit("")))
        .drop("_id", "_new_text", "_n_kept")
    )


def _uniform_hash(col) -> F.Column:
    """Deterministic uniform value in [0, 2^32) from md5 — identical
    in Spark and DuckDB (`('0x' || substr(md5(x),1,8))::UBIGINT`), so
    sampling decisions are reproducible across engines."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Dict[str, float],
    id_col: str,
) -> DataFrame:
    """Keep a deterministic ``fractions[stratum]`` share of each
    stratum (rows of strata missing from ``fractions`` are dropped).

    The keep decision is ``md5-hash(id) < fraction * 2^32`` — a pure
    per-row predicate: no shuffle, no state, stable under retries and
    repartitioning, and push-down-friendly (Catalyst evaluates it at
    the scan).  Expected (not exact) sample sizes, like Spark's own
    ``sampleBy``, but reproducible and engine-portable.
    """
    from itertools import chain

    fraction_map = F.create_map(
        *[F.lit(x) for x in chain.from_iterable(fractions.items())]
    )
    frac = fraction_map[F.col(strata_col)]
    threshold = (frac * F.lit(float(2**32))).cast("long")
    return df.where(
        F.col(strata_col).isin(list(fractions))
        & (_uniform_hash(F.col(id_col)) < threshold)
    )


def flag_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    benchmark_text_col: str = "text",
    shingle_size: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: ``(id, n_overlap, contaminated)`` per
    training document, where ``n_overlap`` counts DISTINCT word
    ``shingle_size``-grams shared with ANY benchmark document.

    Plan: the benchmark's distinct shingles (a small set — eval suites
    are tiny next to a training corpus) BROADCAST to every executor;
    training docs explode their shingles and hash-join against the
    broadcast, so the corpus-side scan never shuffles.  Overlap counts
    aggregate per doc id (map-side combine).  At 10^12 docs this is
    one scan + one broadcast — the standard decontamination shape.
    """
    # benchmark side: tiny (eval suites), the fused inline expression
    # is fine; corpus side: the 10^12-doc scan — shingle_frame's
    # two-step projection tokenizes each doc ONCE and explode_outer
    # skips the optimizer's inferred size()>0 filter (which would
    # re-evaluate the whole shingle expression a second time).
    # spread=False keeps the documented plan contract: the corpus-side
    # scan NEVER shuffles (one scan + one broadcast), even for a
    # single-file local input.
    bench_shingles = F.broadcast(
        benchmark.select(
            F.explode(
                _shingles_of_words(
                    _words_of(benchmark_text_col), shingle_size
                )
            ).alias("_sh")
        ).distinct()
    )
    doc_shingles = shingle_frame(
        df, id_col, text_col, shingle_size, spread=False
    ).select(F.col("id").alias("_id"), F.explode_outer("sh").alias("_sh"))
    overlaps = (
        doc_shingles.join(bench_shingles, on="_sh")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        df.select(id_col)
        .join(overlaps, df[id_col] == overlaps["_id"], "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )
