"""Webtext quality pipeline: enrich -> rules -> gate -> scrub -> lineage.

Execution design (Spark-first, 100TB-minded):

* **enrich** — ONE Arrow-batched ``pandas_udf`` returning a struct of
  all features + scrubbed text.  Only the ``text`` column crosses the
  Arrow boundary; ``html`` (the fat binary column) never leaves the
  JVM and is dropped before the checkpoint write (column pruning).
* **rules** — pure Catalyst column expressions over the feature
  struct (JVM-side, whole-stage codegen); ``keep`` is their
  conjunction.  Each rule is also a named boolean column so pass
  fractions materialize as Compliance metrics.
* **bucketing** — ``pmod(xxhash64(url), n_buckets)`` spreads hot hosts
  uniformly (hash-salting the skewed host key); the bucket is the
  checkpoint/resume unit and the lineage partition key.
* **checkpoint** — each run (attempt) writes its new buckets once,
  unpartitioned, to its own ``attempt=<id>`` directory with ``bucket``
  as an ordinary column: one file per write task, not one per task
  and bucket.  The per-bucket analyzer states committed to the
  ``StateRepository`` are the "done" marker and name the attempt that
  holds each bucket; the checkpoint is the union of the committed
  ``(attempt, bucket)`` pairs.  A killed run resumes by processing only
  uncommitted buckets.
* **metrics** — per-bucket monoid states (lineage) merge to global
  metrics.  The gating Checks are evaluated from the same merged
  states (``VerificationSuite.evaluate``), not by rescanning the
  checkpoint: the gate's analyzers join the lineage set, and
  ``is_unique(url)`` keeps per-bucket frequency statistics, exact
  because the bucket is a hash of the url.
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass, replace
from functools import reduce
from typing import Dict, Iterator, List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import store
from ..analyzers import (
    Completeness,
    Compliance,
    Maximum,
    Mean,
    Minimum,
    QuantileSketch,
    ScanShareableAnalyzer,
    Size,
    StandardDeviation,
    Sum,
)
from ..analyzers.runner import AnalyzerContext
from ..checks import Check, CheckLevel
from ..lineage import (
    StateRepository,
    analyzer_key,
    compute_partition_states,
    merge_states,
    metrics_from_states,
)
from ..metrics import DoubleMetric
from ..verification_suite import VerificationResult, VerificationSuite
from .features import compute_doc_features
from .spec import FEATURE_FIELDS, DEFAULT_RULES, RuleSet

_SPARK_TYPES = {"int": T.IntegerType(), "double": T.DoubleType(), "string": T.StringType()}

FEATURES_STRUCT = T.StructType(
    [T.StructField(n, _SPARK_TYPES[t], True) for n, t in FEATURE_FIELDS]
)


def _features_udf():
    names = [n for n, _ in FEATURE_FIELDS]

    @pandas_udf(FEATURES_STRUCT)
    def featurize(texts: pd.Series) -> pd.DataFrame:
        feats = [compute_doc_features(t) for t in texts.tolist()]
        # column-wise construction: pd.DataFrame(list-of-dicts) re-infers
        # keys per row and is measurably slower per Arrow batch
        return pd.DataFrame(
            {n: [f[n] for f in feats] for n in names}, columns=names
        )

    return featurize


def enrich(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append all feature columns in a single vectorized UDF pass.

    Performance: drop fat columns (e.g. ``html`` binary) BEFORE calling
    this — Catalyst does not prune columns through the Python eval
    node, so every column still in the plan is decoded and carried
    alongside the UDF (measured 2.4x slowdown with a 1KB binary kept).
    """
    featurize = _features_udf()
    tmp = df.withColumn("_features", featurize(F.col(text_col)))
    return tmp.select("*", "_features.*").drop("_features")


def rule_exprs(rules: RuleSet) -> Dict[str, F.Column]:
    """Named boolean rule columns (pure Catalyst expressions)."""
    c = F.col
    return {
        "rule_n_words": c("n_words").between(rules.min_words, rules.max_words),
        "rule_mean_word_length": c("mean_word_length").between(
            rules.min_mean_word_length, rules.max_mean_word_length
        ),
        "rule_symbol_ratio": c("symbol_to_word_ratio")
        <= rules.max_symbol_to_word_ratio,
        "rule_bullet_lines": c("bullet_line_frac") <= rules.max_bullet_line_frac,
        "rule_ellipsis_lines": c("ellipsis_line_frac")
        <= rules.max_ellipsis_line_frac,
        "rule_alpha_words": c("alpha_word_frac") >= rules.min_alpha_word_frac,
        "rule_stopwords": c("stopword_frac") >= rules.min_stopword_frac,
        "rule_top2gram": c("top2gram_frac") <= rules.max_top2gram_frac,
        "rule_top3gram": c("top3gram_frac") <= rules.max_top3gram_frac,
        "rule_dup5gram": c("dup5gram_frac") <= rules.max_dup5gram_frac,
        "rule_lang": (c("lang_pred") == rules.target_lang)
        & (c("lang_score") >= rules.min_lang_score),
        "rule_ppl": c("log_ppl") <= rules.max_log_ppl,
    }


def apply_rules(enriched: DataFrame, rules: RuleSet = DEFAULT_RULES) -> DataFrame:
    out = enriched
    exprs = rule_exprs(rules)
    for name, expr in exprs.items():
        out = out.withColumn(name, expr)
    keep = None
    for name in exprs:
        keep = F.col(name) if keep is None else (keep & F.col(name))
    return out.withColumn("keep", keep)


def lineage_analyzers(rules: RuleSet = DEFAULT_RULES) -> List[ScanShareableAnalyzer]:
    """Scan-shareable analyzers materialized as per-bucket states."""
    ans: List[ScanShareableAnalyzer] = [
        Size(),
        Completeness("text"),
        Completeness("scrubbed_text"),
        Minimum("n_words"),
        Maximum("n_words"),
        Mean("n_words"),
        Mean("log_ppl"),
        StandardDeviation("log_ppl"),
        QuantileSketch("log_ppl", 0.5),
        Sum("n_emails"),
        Sum("n_creditcards"),
        Sum("n_toxic"),
        Compliance("keep_rate", "keep == true"),
    ]
    for rule_name in rules.rule_names():
        ans.append(Compliance(f"{rule_name}_rate", f"{rule_name} == true"))
    return ans


def gating_checks(rules: RuleSet = DEFAULT_RULES,
                  min_keep_rate: float = 0.05) -> List[Check]:
    """Quality gates on the enriched checkpoint.  ``run_pipeline``
    evaluates them from per-bucket states, so every analyzer they
    require must be scan-shareable or frequency-based with the url as
    grouping column (the bucket is a hash of the url)."""
    return [
        (
            Check(CheckLevel.ERROR, "input integrity")
            .has_size(lambda n: n > 0)
            .is_complete("url")
            .is_unique("url")
            .is_complete("text")
            .is_complete("scrubbed_text")
        ),
        (
            Check(CheckLevel.ERROR, "pipeline sanity")
            .is_non_negative("n_words")
            .is_non_negative("log_ppl")
            .satisfies("keep == true", "keep rate", lambda v: v >= min_keep_rate)
        ),
        (
            Check(CheckLevel.WARNING, "scrub coverage")
            .satisfies(
                "n_emails == 0 or not (scrubbed_text rlike "
                "'[a-z0-9._%+-]+@[a-z0-9.-]+')",
                "emails redacted",
            )
        ),
    ]


@dataclass
class PipelineResult:
    kept: DataFrame
    enriched: DataFrame
    verification: VerificationResult
    metrics: Dict
    processed_buckets: List[str]
    resumed_buckets: List[str]


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    work_dir: str,
    rules: RuleSet = DEFAULT_RULES,
    run_id: str = "run",
    n_buckets: int = 64,
    resume: bool = True,
) -> PipelineResult:
    """End-to-end gated pipeline with checkpoint/resume.

    Commit protocol: (1) the uncommitted buckets are enriched and
    written to a new directory ``enriched/<run_id>/attempt=<id>``,
    (2) their states, each naming that attempt, are committed to the
    StateRepository (the durable "done" marker).  The checkpoint is
    the union, over the attempts the log names, of each attempt's
    committed buckets.  A crash between (1) and (2) leaves an attempt
    no record names: the next run ignores its rows, deletes it, and
    reprocesses its buckets; no duplicates, no loss.  When every bucket
    ``0..n_buckets-1`` is committed, nothing is written and no states
    job runs.  One writer per ``run_id``.  ``resume=False`` first
    deletes the run's committed states and then every attempt, so every
    bucket is recomputed and merged once.  A log written by the older
    bucket-directory layout (records without an attempt) raises
    ``ValueError``: rerun with ``resume=False``.
    """
    repo = StateRepository(f"{work_dir}/states")
    enriched_dir = f"{work_dir}/enriched/{run_id}"
    checks = gating_checks(rules)
    gate = list(dict.fromkeys(a for c in checks for a in c.required_analyzers()))
    # one per-bucket states job serves the lineage metrics and the gate
    analyzers = list(dict.fromkeys([*lineage_analyzers(rules), *gate]))

    if not resume:
        # a fresh log: records beside the old ones would double-count
        # on a later resume
        repo.clear(run_id)
        store.delete(enriched_dir)
    prior = repo.load(run_id)
    if any(not r.attempt for r in prior):
        raise ValueError(
            f"the state log of run {run_id!r} was written by the "
            "bucket-directory checkpoint layout; rerun with resume=False "
            "(--no-resume)"
        )
    committed = sorted({r.bucket for r in prior})
    # crash leftovers and attempts that had nothing to write; listed,
    # not globbed, since run_id and work_dir may hold glob characters
    named = {f"attempt={r.attempt}" for r in prior}
    for name in store.list_names(enriched_dir, "attempt="):
        if name not in named:
            store.delete(f"{enriched_dir}/{name}")

    bucketed = pages.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )
    todo = bucketed
    if committed:
        todo = bucketed.where(~F.col("bucket").cast("string").isin(committed))

    # Drop the fat binary column BEFORE the Arrow UDF stage: Catalyst
    # does not prune columns through the Python eval node, so anything
    # still in the plan is decoded and carried (2.4x slower measured
    # with html kept).
    enriched_new = apply_rules(enrich(todo.drop("html")), rules)
    enriched_new = enriched_new.select(
        *[c for c in enriched_new.columns if c != "bucket"], "bucket"
    )
    # Explicit paths read with the write plan's schema start no
    # inference and no listing job; the schema comes from analysis.
    schema = enriched_new.schema

    def read_attempt(a: str) -> DataFrame:
        # Spark globs a read path: escape the glob characters a run_id
        # or work_dir may hold, so the path names only this attempt
        path = re.sub(r"([\\{}\[\]*?])", r"\\\1", f"{enriched_dir}/attempt={a}")
        return spark.read.schema(schema).parquet(path)

    held: Dict[str, set] = {}
    for r in prior:
        held.setdefault(r.attempt, set()).add(r.bucket)
    # A prior attempt may hold rows of buckets its log no longer names
    # (a log edited to drop them).
    parts = [
        read_attempt(a).where(F.col("bucket").cast("string").isin(sorted(buckets)))
        for a, buckets in sorted(held.items())
    ]
    records = []
    # A fully committed log has nothing to write: no attempt, no job.
    if not {str(b) for b in range(n_buckets)} <= set(committed):
        attempt = uuid.uuid4().hex
        enriched_new.write.mode("error").parquet(f"{enriched_dir}/attempt={attempt}")
        records = [
            replace(r, attempt=attempt)
            for r in compute_partition_states(read_attempt(attempt), analyzers, "bucket")
        ]
        repo.save(run_id, records)
        # every row of the new attempt is committed: its records were
        # computed from them
        parts.append(read_attempt(attempt))
    processed = sorted({r.bucket for r in records})
    checkpoint = reduce(DataFrame.union, parts)

    merged = merge_states([*prior, *records])
    metrics = metrics_from_states(analyzers, merged)
    # A log written with another analyzer set lacks some states; such
    # a metric would silently cover only part of the checkpoint.
    covered: Dict[str, set] = {}
    for r in [*prior, *records]:
        covered.setdefault(r.analyzer_key, set()).add(r.bucket)
    for a in analyzers:
        missing = set(committed).union(processed) - covered.get(analyzer_key(a), set())
        if missing:
            metrics[a] = a.to_failure_metric(
                ValueError(f"no committed state for buckets {sorted(missing)}")
            )
    verification = VerificationSuite().evaluate(
        checks, AnalyzerContext({a: metrics[a] for a in gate})
    )
    return PipelineResult(
        kept=checkpoint.where(F.col("keep")),
        enriched=checkpoint,
        verification=verification,
        metrics=metrics,
        processed_buckets=processed,
        resumed_buckets=committed,
    )


def streaming_quality_filter(
    stream_df: DataFrame,
    rules: RuleSet = DEFAULT_RULES,
    text_col: str = "text",
) -> DataFrame:
    """The quality pipeline as a STREAMING transformation: enrich (the
    same single-pass Arrow UDF — stateless, so it runs unchanged inside
    micro-batches) -> Catalyst rule columns -> keep-filter.

    Returns a streaming DataFrame of kept rows with all feature/rule
    columns; the caller picks sink/trigger/checkpoint::

        kept = streaming_quality_filter(spark.readStream.schema(s).parquet(src))
        q = (kept.writeStream.format("parquet")
                 .option("path", out).option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())

    Pair with :class:`hooqu_spark.streaming.StreamingVerification` (on
    the same source) for cumulative quality metrics, or
    ``WindowedMetrics`` keyed on ``warc_ts`` for event-time windows
    with late-data handling.  Exactly-once delivery comes from the
    sink checkpoint; determinism of every feature column (hash-based
    kernels, no rand) makes replayed batches byte-identical.
    """
    enriched = apply_rules(enrich(stream_df, text_col=text_col), rules)
    return enriched.where(F.col("keep"))
