"""Frequency-based (grouping) analyzers.

``compute_frequencies`` builds the SQL the reference documents
(``hooqu/analyzers/grouping_analyzers.py:48-55``)::

    SELECT cols..., COUNT(*) FROM data
    WHERE col_a IS NOT NULL OR col_b IS NOT NULL ...
    GROUP BY cols...

as a lazy Spark plan — a two-phase hash aggregate (map-side partial
combine, then shuffle on the group keys).  Spark groups NULL keys
natively, replacing the reference's ``fillna(-1)`` sentinel hack
(``grouping_analyzers.py:66-75``) without the -1 collision bug.

All concrete metrics (Uniqueness, Distinctness, UniqueValueRatio,
Entropy, CountDistinct) reduce the frequency table with ONE shared
aggregation producing the sufficient statistics
``(total, groups, singletons, sum(c*ln c))`` — so a single groupBy job
serves every grouping analyzer on the same (columns, where) pair.
"""

from __future__ import annotations

import math
from dataclasses import astuple
from functools import reduce
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..expr import translate
from ..metrics import DoubleMetric
from ..states import FrequencyStats, State
from .base import (
    COUNT_COL,
    Analyzer,
    at_least_one,
    entity_from,
    has_column,
    metric_from_empty,
    metric_from_value,
)


class FrequenciesAndNumRows(State):
    """Group-frequencies state backed by a lazy Spark DataFrame
    ``(group_cols..., hooqu_count)`` with the row count derived on
    demand (num_rows == sum of group counts, so no second scan).

    The reference left this state's merge ``NotImplementedError``
    (``grouping_analyzers.py:21-27``); on Spark the monoid is natural:
    union the frequency tables and re-aggregate.
    """

    def __init__(self, frequencies: DataFrame, num_rows: Optional[int] = None):
        self.frequencies = frequencies
        self._num_rows = num_rows

    @property
    def num_rows(self) -> int:
        if self._num_rows is None:
            row = self.frequencies.agg(
                F.coalesce(F.sum(COUNT_COL), F.lit(0))
            ).first()
            self._num_rows = int(row[0])
        return self._num_rows

    def sum(self, other: "FrequenciesAndNumRows") -> "FrequenciesAndNumRows":
        group_cols = [c for c in self.frequencies.columns if c != COUNT_COL]
        merged = (
            self.frequencies.unionByName(other.frequencies)
            .groupBy(*group_cols)
            .agg(F.sum(COUNT_COL).alias(COUNT_COL))
        )
        return FrequenciesAndNumRows(merged)


class FrequencyBasedAnalyzer(Analyzer):
    """Base for analyzers over group frequencies."""

    #: True for analyzers whose metric needs the full frequency table,
    #: not just the shared scalar statistics: they have no mergeable
    #: state, and the runner calculates them standalone.
    uses_full_frequencies = False

    def __init__(self, name: str, cols_to_group_on: Sequence[str],
                 where: Optional[str] = None):
        self._cols_to_group_on = list(cols_to_group_on)
        super().__init__(
            name,
            ",".join(self._cols_to_group_on),
            entity_from(self._cols_to_group_on),
            where,
        )

    @property
    def grouping_columns(self) -> Sequence[str]:
        return self._cols_to_group_on

    def _identity(self):
        return super()._identity() + (tuple(self._cols_to_group_on),)

    def preconditions(self):
        return [at_least_one(self.grouping_columns)] + [
            has_column(c) for c in self.grouping_columns
        ]

    @staticmethod
    def compute_frequencies(
        data: DataFrame,
        grouping_columns: Sequence[str],
        where: Optional[str] = None,
        keys: Sequence[str] = (),
    ) -> FrequenciesAndNumRows:
        """Frequency table of ``grouping_columns``; ``keys`` are extra
        leading group columns (e.g. a partition id) that take no part
        in the all-NULL filter."""
        cols = list(grouping_columns)
        if where is not None:
            data = data.where(F.expr(translate(where)))
        any_not_null = reduce(
            lambda a, b: a | b, (F.col(c).isNotNull() for c in cols)
        )
        frequencies = (
            data.select(*keys, *cols)
            .where(any_not_null)
            .groupBy(*keys, *cols)
            .agg(F.count(F.lit(1)).alias(COUNT_COL))
        )
        return FrequenciesAndNumRows(frequencies)

    def compute_state_from(self, data: DataFrame) -> FrequenciesAndNumRows:
        return FrequencyBasedAnalyzer.compute_frequencies(
            data, self.grouping_columns, self.where
        )

    # -- shared sufficient statistics over the frequency table --------------
    @staticmethod
    def frequency_stats_exprs() -> List[Column]:
        """The aggregates over a frequency table that yield
        :class:`FrequencyStats` (see :func:`stats_from_row`)."""
        cnt = F.col(COUNT_COL)
        return [
            F.coalesce(F.sum(cnt), F.lit(0)).alias("total"),
            F.count(F.lit(1)).alias("groups"),
            F.coalesce(
                F.sum(F.when(cnt == 1, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
            ).alias("singletons"),
            F.coalesce(
                F.sum(cnt.cast("double") * F.log(cnt.cast("double"))), F.lit(0.0)
            ).alias("clnc"),
            F.coalesce(F.max(cnt), F.lit(0)).alias("maxc"),
        ]

    @staticmethod
    def frequency_stats(
        frequencies: DataFrame,
    ) -> Tuple[int, int, int, float, int]:
        """(total_rows, n_groups, n_singletons, sum(c*ln c), max_count)
        in one job — one row of sufficient statistics serving every
        frequency-based analyzer on the same (columns, where) pair."""
        row = frequencies.agg(*FrequencyBasedAnalyzer.frequency_stats_exprs()).first()
        return astuple(stats_from_row(row))

    def metric_from_stats(
        self, total: int, groups: int, singletons: int, clnc: float,
        maxc: int = 0,
    ) -> DoubleMetric:
        if total == 0:
            return metric_from_empty(self, self.name, self.instance, self.entity)
        return metric_from_value(
            self._value_from_stats(total, groups, singletons, clnc, maxc),
            self.name,
            self.instance,
            self.entity,
        )

    def _value_from_stats(
        self, total: int, groups: int, singletons: int, clnc: float,
        maxc: int,
    ) -> float:
        raise NotImplementedError

    def compute_metric_from(
        self, state: Optional[State]
    ) -> DoubleMetric:
        """From a frequency table, or from merged :class:`FrequencyStats`
        (per-partition lineage states)."""
        if state is None:
            return metric_from_empty(self, self.name, self.instance, self.entity)
        if isinstance(state, FrequencyStats):
            return self.metric_from_stats(*astuple(state))
        return self.metric_from_stats(*self.frequency_stats(state.frequencies))


def stats_from_row(values: Sequence) -> FrequencyStats:
    """:class:`FrequencyStats` from the values of
    ``FrequencyBasedAnalyzer.frequency_stats_exprs()``."""
    total, groups, singletons, clnc, maxc = values
    return FrequencyStats(int(total), int(groups), int(singletons), float(clnc), int(maxc))


class Uniqueness(FrequencyBasedAnalyzer):
    """Fraction of value combinations occurring exactly once.
    Reference: ``hooqu/analyzers/uniqueness.py:17-32``."""

    def __init__(self, columns: Sequence[str], where: Optional[str] = None):
        if isinstance(columns, str):
            columns = [columns]
        super().__init__("Uniqueness", columns, where)

    def _value_from_stats(self, total, groups, singletons, clnc, maxc) -> float:
        return singletons / total


class Distinctness(FrequencyBasedAnalyzer):
    """Distinct combinations / rows (Deequ-style extension)."""

    def __init__(self, columns: Sequence[str], where: Optional[str] = None):
        if isinstance(columns, str):
            columns = [columns]
        super().__init__("Distinctness", columns, where)

    def _value_from_stats(self, total, groups, singletons, clnc, maxc) -> float:
        return groups / total


class UniqueValueRatio(FrequencyBasedAnalyzer):
    """Singleton groups / distinct groups (Deequ-style extension)."""

    def __init__(self, columns: Sequence[str], where: Optional[str] = None):
        if isinstance(columns, str):
            columns = [columns]
        super().__init__("UniqueValueRatio", columns, where)

    def _value_from_stats(self, total, groups, singletons, clnc, maxc) -> float:
        return singletons / groups


class CountDistinct(FrequencyBasedAnalyzer):
    """Exact distinct count of combinations (Deequ-style extension)."""

    def __init__(self, columns: Sequence[str], where: Optional[str] = None):
        if isinstance(columns, str):
            columns = [columns]
        super().__init__("CountDistinct", columns, where)

    def _value_from_stats(self, total, groups, singletons, clnc, maxc) -> float:
        return float(groups)


class Entropy(FrequencyBasedAnalyzer):
    """Shannon entropy of the group distribution (nats), computed from
    the identity  -sum(p ln p) = ln(T) - sum(c ln c)/T  so it shares
    the single frequency aggregation (Deequ-style extension)."""

    def __init__(self, columns: Sequence[str], where: Optional[str] = None):
        if isinstance(columns, str):
            columns = [columns]
        super().__init__("Entropy", columns, where)

    def _value_from_stats(self, total, groups, singletons, clnc, maxc) -> float:
        return math.log(total) - clnc / total


class Histogram(FrequencyBasedAnalyzer):
    """Value distribution of a column (Deequ's ``Histogram``).  The
    scalar metric is the **mode share** — the fraction of rows holding
    the most frequent value (1.0 = constant column, ->0 = spread out)
    — computed from the shared frequency statistics.  The full
    distribution (value, count, ratio), capped at ``max_detail_bins``
    most-frequent bins, comes from :meth:`distribution` as a lazy
    DataFrame (TakeOrderedAndProject, no full sort)."""

    def __init__(
        self,
        column: str,
        max_detail_bins: int = 1000,
        where: Optional[str] = None,
    ):
        super().__init__("Histogram", [column], where)
        self.max_detail_bins = max_detail_bins

    def _identity(self):
        return super()._identity() + (self.max_detail_bins,)

    def _value_from_stats(self, total, groups, singletons, clnc, maxc) -> float:
        return maxc / total

    def distribution(self, data: DataFrame) -> DataFrame:
        """(value, count, ratio) for the top ``max_detail_bins`` values
        by frequency; ratio is relative to all grouped rows.

        The grand total joins in as a broadcast 1-row aggregate
        (BroadcastNestedLoopJoin) — an empty-spec window would collapse
        the whole frequency table into one partition, which does not
        survive high-cardinality columns at scale; a driver-side scalar
        would force a second groupBy over the raw data."""
        state = self.compute_state_from(data)
        freq = state.frequencies
        col = self.grouping_columns[0]
        total = freq.agg(
            F.coalesce(F.sum(COUNT_COL), F.lit(0)).alias("_total")
        )
        return (
            freq.crossJoin(F.broadcast(total))
            .select(
                F.col(col).alias("value"),
                F.col(COUNT_COL).alias("count"),
                (F.col(COUNT_COL) / F.col("_total")).alias("ratio"),
            )
            .orderBy(F.desc("count"), F.asc("value"))
            .limit(self.max_detail_bins)
        )


class MutualInformation(FrequencyBasedAnalyzer):
    """Mutual information (nats) between two columns (Deequ-style
    extension): ``MI = Σ_xy p(x,y) · ln( p(x,y) / (p(x)·p(y)) )``.

    Computed from the single joint ``groupBy(x, y).count()`` frequency
    table; the marginals are window sums over that (already small)
    table, so the raw data is scanned exactly once and only group keys
    shuffle — no second pass, no join."""

    uses_full_frequencies = True

    def __init__(self, columns: Sequence[str], where: Optional[str] = None):
        cols = [columns] if isinstance(columns, str) else list(columns)
        if len(cols) != 2:
            raise ValueError(
                "MutualInformation requires exactly two columns,"
                f" got {len(cols)}"
            )
        super().__init__("MutualInformation", cols, where)

    def compute_metric_from(
        self, state: Optional[FrequenciesAndNumRows]
    ) -> DoubleMetric:
        if state is None:
            return metric_from_empty(self, self.name, self.instance, self.entity)
        col_x, col_y = self.grouping_columns
        freq = state.frequencies
        c = F.col(COUNT_COL).cast("double")
        # Marginals as window sums partitioned by each key (scales with
        # per-key cardinality); the grand total joins in as a broadcast
        # 1-row aggregate rather than an empty-spec window, which would
        # collapse the joint frequency table into a single partition.
        cx = F.sum(c).over(Window.partitionBy(col_x))
        cy = F.sum(c).over(Window.partitionBy(col_y))
        total_df = freq.agg(
            F.coalesce(F.sum(c), F.lit(0.0)).alias("_total")
        )
        t = F.col("_total")
        term = (c / t) * F.log(c * t / (cx * cy))
        row = (
            freq.crossJoin(F.broadcast(total_df))
            .select(term.alias("term"))
            .agg(F.sum("term").alias("mi"), F.count(F.lit(1)).alias("groups"))
            .first()
        )
        if not row[1]:
            return metric_from_empty(self, self.name, self.instance, self.entity)
        return metric_from_value(
            float(row[0] or 0.0), self.name, self.instance, self.entity
        )


GROUPING_ANALYZERS = (
    Uniqueness,
    Distinctness,
    UniqueValueRatio,
    CountDistinct,
    Entropy,
    Histogram,
    MutualInformation,
)
