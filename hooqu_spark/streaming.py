"""Structured Streaming verification: incremental metric states over a
stream.

The reference planned incremental metric computation but never built it
(``README.rst:154-156``, stubbed ``aggregate_with`` hooks).  On Spark
the monoid states make it natural: each micro-batch contributes one
state per analyzer from the fused-state kernel
(:func:`hooqu_spark.analyzers.fused.fused_states`, one scan job); the
accumulator folds batches with the lineage layer's merge, so cumulative
metrics after N batches equal the metrics of the concatenated data —
without reprocessing.  ``WindowedMetrics`` runs the kernel's lazy half
(:func:`~hooqu_spark.analyzers.fused.fused_aggregation`) inside a
streaming windowed aggregation.

Only scan-shareable analyzers participate (grouping analyzers would
need their frequency tables persisted per batch — use the batch
pipeline's lineage path for those).

Usage::

    acc = StreamingVerification(analyzers, checks)
    q = acc.attach(stream_df).start()
    ...
    acc.current_metrics()     # cumulative across all processed batches
    acc.last_result           # VerificationResult of the latest batch
"""

from __future__ import annotations

import threading
from typing import Callable, Dict, Optional, Sequence

from pyspark.sql import DataFrame

from .analyzers.base import Analyzer, ScanShareableAnalyzer
from .analyzers.fused import fused_aggregation, fused_states, state_or_none
from .analyzers.runner import AnalyzerContext
from .checks import Check
from .lineage import _merge, analyzer_key, metrics_from_states
from .metrics import DoubleMetric
from .states import State
from .verification_suite import VerificationResult, VerificationSuite


def _scan_shareable(analyzers: Sequence[Analyzer], what: str) -> list:
    for a in analyzers:
        if not isinstance(a, ScanShareableAnalyzer):
            raise TypeError(f"{what}: analyzers must be scan-shareable, got {a!r}")
    return list(analyzers)


class StreamingVerification:
    def __init__(
        self,
        analyzers: Sequence[ScanShareableAnalyzer],
        checks: Sequence[Check] = (),
        on_batch: Optional[Callable[[int, VerificationResult], None]] = None,
    ):
        self.analyzers = _scan_shareable(analyzers, "streaming verification")
        self.checks = list(checks)
        self.on_batch = on_batch
        self._lock = threading.Lock()
        self._states: Dict[str, Optional[State]] = {}
        self._batches = 0
        self.last_result: Optional[VerificationResult] = None

    # -- state folding -------------------------------------------------------
    def _fold_batch(self, batch_df: DataFrame) -> None:
        states = {
            analyzer_key(a): state_or_none(s)
            for a, s in fused_states(batch_df, self.analyzers)[None].items()
        }
        with self._lock:
            for key, state in states.items():
                self._states[key] = _merge(self._states.get(key), state)
            self._batches += 1

    def current_metrics(self) -> Dict[Analyzer, DoubleMetric]:
        with self._lock:
            return metrics_from_states(self.analyzers, self._states)

    def batches_processed(self) -> int:
        with self._lock:
            return self._batches

    # -- foreachBatch glue -----------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._fold_batch(batch_df)
        metrics = self.current_metrics()
        ctx = AnalyzerContext(dict(metrics))
        result = VerificationSuite().evaluate(self.checks, ctx)
        self.last_result = result
        if self.on_batch is not None:
            self.on_batch(batch_id, result)

    def attach(self, stream_df: DataFrame):
        """Return a DataStreamWriter with foreachBatch wired; caller
        sets trigger/checkpoint and calls .start()."""
        return stream_df.writeStream.foreachBatch(self.process_batch)


class WindowedMetrics:
    """Event-time windowed data-quality metrics with late-data handling.

    Spark-first design: the fused analyzer aggregation expressions
    (the kernel's lazy half, ``fused_aggregation``, the same plan the
    batch runner collects) run inside a native Structured Streaming
    windowed aggregation::

        stream.withWatermark(ts, delay)
              .groupBy(window(ts, size))
              .agg(*fused_exprs)

    so Spark's state store owns the cumulative per-window state,
    watermarking evicts state and drops late events, and each
    micro-batch emits only the *updated* windows (output mode
    ``update``).  The driver keeps just the final metric values per
    window — memory bounded by window count, not data.

    Usage::

        wm = WindowedMetrics([Size(), Completeness("v")], "ts", "10 minutes")
        q = wm.attach(stream_df).option("checkpointLocation", dir).start()
        ...
        wm.window_metrics()   # {(start, end): {analyzer: DoubleMetric}}
    """

    def __init__(
        self,
        analyzers: Sequence[ScanShareableAnalyzer],
        ts_col: str,
        window_duration: str,
        watermark_delay: str = "0 seconds",
        slide_duration: Optional[str] = None,
    ):
        self.analyzers = _scan_shareable(analyzers, "windowed metrics")
        self.ts_col = ts_col
        self.window_duration = window_duration
        self.watermark_delay = watermark_delay
        self.slide_duration = slide_duration
        self._lock = threading.Lock()
        self._windows: Dict[tuple, Dict[str, Optional[State]]] = {}

    def _aggregated(self, stream_df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        win = (
            F.window(self.ts_col, self.window_duration, self.slide_duration)
            if self.slide_duration
            else F.window(self.ts_col, self.window_duration)
        )
        plan, self._states_of, unbuilt = fused_aggregation(
            stream_df.withWatermark(self.ts_col, self.watermark_delay),
            self.analyzers,
            [win.alias("_w")],
        )
        if unbuilt:  # raise now: a streaming plan is never collected here
            raise next(iter(unbuilt.values())).error
        return plan

    def _upsert_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()
        with self._lock:
            for row in rows:
                key = (row["_w"]["start"], row["_w"]["end"])
                states = self._states_of(list(row)[1:])
                # streaming state store already holds the cumulative
                # aggregate -> an update REPLACES the window's states
                self._windows[key] = {
                    analyzer_key(a): state_or_none(s) for a, s in states.items()
                }

    def attach(self, stream_df: DataFrame):
        """Return a DataStreamWriter (output mode ``update``) with
        foreachBatch wired; caller sets trigger/checkpoint, starts."""
        aggregated = self._aggregated(stream_df)
        return aggregated.writeStream.outputMode("update").foreachBatch(
            self._upsert_batch
        )

    def window_metrics(self) -> Dict[tuple, Dict[Analyzer, DoubleMetric]]:
        with self._lock:
            return {
                key: metrics_from_states(self.analyzers, states)
                for key, states in sorted(self._windows.items())
            }


def streaming_dedup(
    stream_df: DataFrame,
    subset: Sequence[str],
    ts_col: str,
    delay: str = "24 hours",
    fingerprint: bool = True,
):
    """Streaming exact deduplication: keep the FIRST arrival of each
    key combination, dropping any duplicate that arrives within the
    event-time watermark horizon (``dropDuplicatesWithinWatermark``, so
    the state store evicts keys older than ``delay`` — state is bounded
    by the horizon, not the stream length).

    ``fingerprint=True`` (default) keys the dedup state on a 64-bit
    hash of the key columns instead of the raw values: for web-text
    dedup on document text that is 8 bytes of state per document
    instead of the whole page — the difference between a state store
    that fits in executor memory at 10^9 docs/day and one that doesn't.
    Each column hashes as the pair (is-null flag, value) — Spark's
    ``xxhash64`` SKIPS null arguments, so hashing raw columns would
    deterministically collide NULL-shifted rows like ``(NULL, 'foo')``
    vs ``('foo', NULL)``; the flag restores positional distinctness,
    leaving only the ~n^2/2^64 random collision rate (at 10^9 keys in
    a horizon, ~0.03 expected false drops; set ``fingerprint=False``
    to key on the raw values when exactness beats state size).

    Streaming-only (batch DataFrames should use
    :func:`hooqu_spark.ops.exact_dedup`, which picks the smallest-id
    survivor deterministically; streaming keeps the first ARRIVAL).
    """
    from pyspark.sql import functions as F

    cols = list(subset)
    out = stream_df
    dedup_cols = cols
    if fingerprint and "_hooqu_fp" in stream_df.columns:
        raise ValueError(
            "streaming_dedup(fingerprint=True) uses an internal "
            "'_hooqu_fp' column but the input stream already has one; "
            "rename it or pass fingerprint=False"
        )
    if fingerprint:
        parts = []
        for c in cols:
            parts.append(F.col(c).isNull().cast("int"))
            parts.append(F.col(c))
        out = out.withColumn("_hooqu_fp", F.xxhash64(*parts))
        dedup_cols = ["_hooqu_fp"]
    out = out.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        dedup_cols
    )
    return out.drop("_hooqu_fp") if fingerprint else out


def streaming_grouped_metrics(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    idle_timeout_ms: Optional[int] = None,
) -> DataFrame:
    """Exact running per-key metrics (``n``, ``mean``, ``stddev``)
    over an unbounded stream, as a CUSTOM stateful operator:
    ``applyInPandasWithState`` with the per-key state being the same
    ``(n, avg, m2)`` Welford triple the batch lineage layer persists
    (:class:`hooqu_spark.states.StandardDeviationState`) — each
    micro-batch folds its Arrow batches into a batch-partial and
    Chan-merges it into the stored triple, so cumulative metrics after
    N batches equal the metrics of the concatenated data.

    This is the shape for stateful semantics Spark's built-in
    streaming aggregates cannot express directly against the batch
    layer: the state IS the engine's own mergeable analyzer monoid,
    so a key's triple can be checkpointed into, or restored from, the
    batch lineage tables (:mod:`hooqu_spark.lineage`) mid-stream.

    Per-key state is one triple (24 bytes) regardless of stream
    length; each batch emits only the keys it updated (output mode
    ``update``).  NULL/NaN values are skipped (the analyzers' pandas
    parity); a key that has seen only NULLs emits nothing.

    ``idle_timeout_ms`` bounds TOTAL state under unbounded key
    cardinality (per-host metrics over a web crawl: hosts are
    unbounded, hot hosts recur): a key whose state goes unrefreshed
    for that long is evicted via a processing-time timeout, and a
    later arrival restarts its metrics from zero.  ``None`` (default)
    keeps every key forever — exact cumulative semantics.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .states import StandardDeviationState

    key_field = stream_df.schema[key_col]
    out_schema = T.StructType(
        [
            key_field,
            T.StructField("n", T.LongType()),
            T.StructField("mean", T.DoubleType()),
            T.StructField("stddev", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.DoubleType()),
            T.StructField("avg", T.DoubleType()),
            T.StructField("m2", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state):
        if idle_timeout_ms is not None and state.hasTimedOut:
            state.remove()  # evicted: no data arrived within the horizon
            return
        acc = (
            StandardDeviationState(*state.get) if state.exists else None
        )
        updated = False
        for pdf in pdfs:
            vals = pd.to_numeric(pdf[value_col], errors="coerce").dropna()
            if not len(vals):
                continue
            bavg = float(vals.mean())
            bm2 = float(((vals - bavg) ** 2).sum())
            part = StandardDeviationState(float(len(vals)), bavg, bm2)
            acc = part if acc is None else acc.sum(part)
            updated = True
        if acc is None:  # this key has seen nothing numeric yet
            return
        if idle_timeout_ms is not None:
            # every call must set it: a call that does not clears it
            state.setTimeoutDuration(idle_timeout_ms)
        if not updated:  # only NULL/non-numeric values: nothing new
            return
        state.update((acc.n, acc.avg, acc.m2))
        yield pd.DataFrame(
            [
                {
                    key_col: key[0],
                    "n": int(acc.n),
                    "mean": acc.avg,
                    "stddev": acc.metric_value(),
                }
            ]
        )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if idle_timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
