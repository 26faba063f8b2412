"""Analysis runner: compiles an analyzer set into a minimal number of
Spark jobs.

Where the reference runs analyzers sequentially, one pandas ``agg``
each (``hooqu/analyzers/runners/analysis_runner.py:150-170``), this
runner re-enables the scan-sharing design the reference left dormant
(``analysis_runner.py:173-230``) — on Spark it is the whole point:

* the fused-state kernel (:func:`~hooqu_spark.analyzers.fused.fused_states`)
  runs ONE ``df.agg(e1..eN)`` for every scan-shareable analyzer
  (Size/Completeness/Min/Max/Sum/Mean/StdDev/Compliance/PatternMatch/
  ApproxQuantile/...) plus the phase-1 counts of exact Quantiles, and
  one groupBy job per distinct (grouping_columns, where) pair, shared
  by all scalar frequency-based analyzers on that pair.  Catalyst
  executes the fused scan as partial+final hash aggregation with
  whole-stage codegen; differently-``where``'d analyzers coexist via
  conditional aggregates.
* (only if exact Quantiles present) one ``df.agg`` of ``percentile``
  expressions at nearest-rank-adjusted fractions.
* MutualInformation and analyzers that cannot fuse run standalone.

Precondition failures and unresolvable expressions become per-analyzer
``Failure`` metrics without poisoning the fused job.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame

from ..metrics import Metric
from .analyzers import Quantile
from .base import Analyzer, ScanShareableAnalyzer, find_first_failing
from .fused import fused_states, metric_from_state
from .grouping import FrequencyBasedAnalyzer


@dataclass
class AnalyzerContext:
    metric_map: Dict[Analyzer, Metric] = field(default_factory=dict)

    def all_metrics(self) -> List[Metric]:
        return list(self.metric_map.values())

    def __add__(self, other: "AnalyzerContext") -> "AnalyzerContext":
        return AnalyzerContext({**self.metric_map, **other.metric_map})

    def metric(self, analyzer: Analyzer) -> Optional[Metric]:
        return self.metric_map.get(analyzer, None)

    @staticmethod
    def success_metrics_as_dataframe(
        analyzer_context: "AnalyzerContext",
        for_analyzers: Sequence[Analyzer] = (),
    ) -> pd.DataFrame:
        mm = analyzer_context.metric_map

        def relevant(analyzer: Analyzer, metric: Metric) -> bool:
            return (
                not for_analyzers or analyzer in for_analyzers
            ) and metric.value.isSuccess

        rows = [
            (
                str(metric.entity).split(".")[-1],
                metric.instance,
                metric.name,
                float(metric.value.get()),
            )
            for analyzer, metric in mm.items()
            if relevant(analyzer, metric)
        ]
        return pd.DataFrame(
            rows, columns=("entity", "instance", "name", "value")
        )


class _QuantileCount(ScanShareableAnalyzer):
    """Phase 1 of an exact :class:`Quantile`: its row count, riding in
    the fused scan.  The state is the plain count."""

    def __init__(self, quantile: Quantile):
        super().__init__("QuantileCount", quantile.instance, quantile.entity, quantile.where)
        self.quantile = quantile

    def _identity(self):
        return super()._identity() + (self.quantile.quantile,)

    def aggregation_exprs(self, df: DataFrame):
        return self.quantile.phase1_exprs(df)

    def state_from_agg(self, values: Sequence) -> int:
        return int(values[0] or 0)


def do_analysis_run(
    data: DataFrame, analyzers: Sequence[Analyzer]
) -> AnalyzerContext:
    """Compute metrics for all analyzers with minimal Spark jobs."""
    if not analyzers:
        return AnalyzerContext({})

    # Deduplicate (order-preserving; identity includes name, columns,
    # where, and per-type extras — fixing the reference's __eq__ bugs).
    unique: Dict[Analyzer, None] = {}
    for a in analyzers:
        unique.setdefault(a, None)
    todo = list(unique)

    metrics: Dict[Analyzer, Metric] = {}

    # 1. Preconditions (schema-only, no jobs).
    schema = data.schema
    passed: List[Analyzer] = []
    for a in todo:
        err = find_first_failing(schema, a.preconditions())
        if err is not None:
            metrics[a] = a.to_failure_metric(err)
        else:
            passed.append(a)

    scan: List[ScanShareableAnalyzer] = []
    counts: Dict[Quantile, _QuantileCount] = {}
    pairs: Dict[Tuple[Tuple[str, ...], Optional[str]], List[FrequencyBasedAnalyzer]] = {}
    others: List[Analyzer] = []
    for a in passed:
        if isinstance(a, Quantile):
            counts[a] = _QuantileCount(a)
            scan.append(counts[a])
        elif isinstance(a, ScanShareableAnalyzer) and a.fuses_into_scan:
            scan.append(a)
        elif isinstance(a, FrequencyBasedAnalyzer) and not a.uses_full_frequencies:
            pairs.setdefault((tuple(a.grouping_columns), a.where), []).append(a)
        else:
            others.append(a)

    # 2. The fused scan (with the exact quantiles' phase-1 counts) and
    #    one frequency job per (columns, where) pair; a failed frequency
    #    job fails only the analyzers on its pair.
    states = fused_states(data, scan)[None] if scan else {}
    for group in pairs.values():
        try:
            states.update(fused_states(data, group)[None])
        except Exception as e:  # noqa: BLE001
            states.update((a, e) for a in group)
    for a, state in states.items():
        if not isinstance(a, _QuantileCount):
            metrics[a] = metric_from_state(a, state)

    # 3. Exact quantiles: phase 2 (one more fused job).  Quantiles
    #    sharing a (column, where) pair fuse into ONE
    #    percentile_disc(array(p1..pk)) — a single sort buffer per
    #    group instead of one full-column buffer per quantile.
    by_col: Dict[Tuple[str, Optional[str]], List[Tuple[Quantile, int]]] = {}
    for q, count in counts.items():
        n = states[count]
        if isinstance(n, Exception):
            metrics[q] = metric_from_state(q, n)
        elif n == 0:
            metrics[q] = metric_from_state(q, q.state_from_phases(0, None))
        else:
            by_col.setdefault((q.instance, q.where), []).append((q, n))
    groups = list(by_col.values())
    if groups:
        q_row = data.agg(
            *(
                Quantile.fused_phase2_expr(data, g).alias(f"_q{i}")
                for i, g in enumerate(groups)
            )
        ).first()
        for g, values in zip(groups, q_row):
            for j, (q, n) in enumerate(g):
                value = None if values is None else values[j]
                metrics[q] = metric_from_state(q, q.state_from_phases(n, value))

    # 4. MutualInformation (needs the full frequency table) and
    #    non-fusing analyzers: standalone calculate.
    for a in others:
        try:
            metrics[a] = a.calculate(data)
        except Exception as e:  # noqa: BLE001
            metrics[a] = a.to_failure_metric(e)

    # Preserve input analyzer order in the context.
    ordered = {a: metrics[a] for a in todo if a in metrics}
    return AnalyzerContext(ordered)
