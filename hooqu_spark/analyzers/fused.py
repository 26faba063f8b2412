"""The fused-state kernel, the one place where analyzers become states.

An analyzer is a set of aggregate expressions whose result slices into
a mergeable state.  :func:`fused_states` fuses the expressions of every
scan-shareable analyzer into ONE ``agg`` (or ``groupBy(by).agg``) job
and slices its rows into states; scalar frequency-based analyzers add
one job per ``(columns, where)`` pair, reduced to ``FrequencyStats``.
The runner, profiler, lineage and streaming all call it;
:func:`fused_aggregation` is its lazy half, for streaming plans.

One bad analyzer never fails the shared job: an analyzer whose
expressions (or frequency table) cannot be built gets an
:class:`UnbuildableAnalyzer` in place of its state, and one whose state
cannot be sliced from the row (e.g. stddev of zero rows) gets the
exception ``state_from_agg`` raised.  A failing Spark job raises.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..metrics import DoubleMetric
from ..states import FrequencyStats, State
from .base import Analyzer, ScanShareableAnalyzer, apply_projections
from .grouping import FrequencyBasedAnalyzer, stats_from_row

#: a state, or the exception raised while computing it
StateOrError = Union[State, None, Exception]

_GROUP = "_hooqu_group"


class UnbuildableAnalyzer(Exception):
    """In place of a state: the analyzer's aggregate expressions, or its
    frequency table, could not be built.  ``error`` is why."""

    def __init__(self, error: Exception):
        super().__init__(str(error))
        self.error = error


def metric_from_state(analyzer: Analyzer, state: StateOrError) -> DoubleMetric:
    """The analyzer's metric; an exception in place of the state, or one
    raised computing the metric, becomes a Failure metric."""
    try:
        if isinstance(state, UnbuildableAnalyzer):
            raise state.error
        if isinstance(state, Exception):
            raise state
        return analyzer.compute_metric_from(state)
    except Exception as e:  # noqa: BLE001
        return analyzer.to_failure_metric(e)


def state_or_none(state: StateOrError) -> Optional[State]:
    """The state to store or fold: an unbuildable analyzer raises its
    error, and a state that could not be sliced is None."""
    if isinstance(state, UnbuildableAnalyzer):
        raise state.error
    return None if isinstance(state, Exception) else state


def fused_aggregation(
    df: DataFrame, analyzers: Sequence[ScanShareableAnalyzer], keys: Sequence[Column] = ()
) -> Tuple[Optional[DataFrame], Callable, Dict[Analyzer, StateOrError]]:
    """The aggregated plan, one row per ``keys`` group (``None`` when no
    expression could be built); the function from a row's values after
    the keys to ``{analyzer: state or exception}``; and the analyzers
    left out of the plan because their expressions could not be built."""
    proj = apply_projections(df, analyzers)
    unbuilt: Dict[Analyzer, StateOrError] = {}
    slices: List[Tuple[ScanShareableAnalyzer, int, int]] = []
    exprs: List[Column] = []
    for a in analyzers:
        try:
            ae = a.cached_aggregation_exprs(proj)
        except Exception as e:  # noqa: BLE001 - unresolvable expression
            unbuilt[a] = UnbuildableAnalyzer(e)
            continue
        slices.append((a, len(exprs), len(exprs) + len(ae)))
        exprs.extend(ae)

    def states_of(values: Sequence) -> Dict[Analyzer, StateOrError]:
        states: Dict[Analyzer, StateOrError] = {}
        for a, start, end in slices:
            try:
                states[a] = a.state_from_agg(values[start:end])
            except Exception as e:  # noqa: BLE001 - e.g. stddev with n=0
                states[a] = e
        return states

    # no aliases: rows are consumed positionally, and each .alias() is
    # a py4j round trip (54 exprs ~= 0.1 s of driver time per job)
    return (proj.groupBy(*keys).agg(*exprs) if exprs else None), states_of, unbuilt


def fused_states(
    df: DataFrame, analyzers: Sequence[Analyzer], by: Optional[str] = None
) -> Dict[Optional[str], Dict[Analyzer, StateOrError]]:
    """``{group: {analyzer: state or exception}}``.  With ``by=None``
    the only group is ``None``; otherwise groups are the Spark string
    casts of column ``by`` (a NULL group is ``"None"``), and a frame
    with no rows has no groups.

    A frequency analyzer's state for a group is the FrequencyStats of
    that group's rows (empty if it has none), so merging them across
    groups is exact only if ``by`` is a function of its grouping
    columns.  Analyzers needing the full frequency table
    (MutualInformation), or neither kind, raise ValueError."""
    scan: List[ScanShareableAnalyzer] = []
    pairs: Dict[Tuple[Tuple[str, ...], Optional[str]], List[FrequencyBasedAnalyzer]] = {}
    for a in analyzers:
        if isinstance(a, ScanShareableAnalyzer):
            scan.append(a)
        elif isinstance(a, FrequencyBasedAnalyzer) and not a.uses_full_frequencies:
            pairs.setdefault((tuple(a.grouping_columns), a.where), []).append(a)
        else:
            raise ValueError(f"{a!r} has no mergeable state")

    key_cols = [] if by is None else [F.col(by).cast("string")]
    n_keys = len(key_cols)

    def group_of(row) -> Optional[str]:
        return str(row[0]) if n_keys else None

    out: Dict[Optional[str], Dict[Analyzer, StateOrError]] = {} if n_keys else {None: {}}
    unbuilt: Dict[Analyzer, StateOrError] = {}
    if scan:
        plan, states_of, unbuilt = fused_aggregation(df, scan, key_cols)
        if plan is not None:
            for row in plan.collect() if n_keys else [plan.first()]:
                out[group_of(row)] = states_of(list(row)[n_keys:])

    # the group is an extra leading key of the frequency tables
    keyed = df.withColumn(_GROUP, key_cols[0]) if n_keys else df
    keys = [_GROUP] if n_keys else []
    empty = FrequencyStats(0, 0, 0, 0.0, 0)
    for (cols, where), group in pairs.items():
        try:
            freq = FrequencyBasedAnalyzer.compute_frequencies(keyed, cols, where, keys=keys)
            plan = freq.frequencies.groupBy(*keys).agg(
                *FrequencyBasedAnalyzer.frequency_stats_exprs()
            )
        except Exception as e:  # noqa: BLE001 - e.g. an invalid where
            unbuilt.update((a, UnbuildableAnalyzer(e)) for a in group)
            continue
        stats = {group_of(r): stats_from_row(list(r)[n_keys:]) for r in plan.collect()}
        for g in stats:
            out.setdefault(g, {})
        for g, states in out.items():
            states.update((a, stats.get(g, empty)) for a in group)
    for states in out.values():
        states.update(unbuilt)
    return out
