"""Mergeable (monoid) metric states.

Each state is the sufficient statistic an analyzer needs, computed per
scan (or per partition for lineage) and merged commutatively — the
design the reference sketched (``hooqu/analyzers/analyzer.py:43-57``
``State.sum``) but only partially implemented.  Two states the
reference left ``NotImplementedError`` get real merge implementations
here: ``QuantileSketchState`` (mergeable rank histogram) and
``FrequenciesAndNumRows`` (union + re-aggregate on Spark).

All scalar states serialize to/from plain dicts so they can be
materialized into per-partition lineage tables and checkpointed
(see ``hooqu_spark/lineage.py``).
"""

from __future__ import annotations

import math
from abc import ABC, abstractmethod
from dataclasses import asdict, dataclass, fields
from typing import Any, Dict, Optional


class State(ABC):
    """A commutative, associative (monoid) aggregation state."""

    @abstractmethod
    def sum(self, other: "State") -> "State":
        ...

    def __add__(self, other: "State") -> "State":
        return self.sum(other)

    def to_dict(self) -> Dict[str, Any]:
        return dict(asdict(self), _type=type(self).__name__)


class DoubleValuedState(State):
    @abstractmethod
    def metric_value(self) -> float:
        ...


@dataclass(frozen=True)
class NumMatches(DoubleValuedState):
    """Row count (Size). Reference: ``hooqu/analyzers/size.py:12-21``."""

    num_matches: int

    def sum(self, other: "NumMatches") -> "NumMatches":
        # NB: the reference returns a bare int here (bug); we keep the monoid.
        return NumMatches(self.num_matches + other.num_matches)

    def metric_value(self) -> float:
        return float(self.num_matches)


@dataclass(frozen=True)
class NumMatchesAndCount(DoubleValuedState):
    """Ratio state (Completeness/Compliance/PatternMatch).
    Reference: ``hooqu/analyzers/analyzer.py:302-321``."""

    num_matches: int
    count: int

    def sum(self, other: "NumMatchesAndCount") -> "NumMatchesAndCount":
        return NumMatchesAndCount(
            self.num_matches + other.num_matches, self.count + other.count
        )

    def metric_value(self) -> float:
        if self.count == 0:
            return float("nan")
        return self.num_matches / self.count


@dataclass(frozen=True)
class MinState(DoubleValuedState):
    min_value: float

    def sum(self, other: "MinState") -> "MinState":
        # Reference bug: returns a float instead of MinState
        # (``minimum.py:15-16``); fixed here.
        return MinState(min(self.min_value, other.min_value))

    def metric_value(self) -> float:
        return self.min_value


@dataclass(frozen=True)
class MaxState(DoubleValuedState):
    max_value: float

    def sum(self, other: "MaxState") -> "MaxState":
        return MaxState(max(self.max_value, other.max_value))

    def metric_value(self) -> float:
        return self.max_value


@dataclass(frozen=True)
class SumState(DoubleValuedState):
    sum_value: float

    def sum(self, other: "SumState") -> "SumState":
        return SumState(self.sum_value + other.sum_value)

    def metric_value(self) -> float:
        return self.sum_value


@dataclass(frozen=True)
class MeanState(DoubleValuedState):
    total: float
    count: int

    def sum(self, other: "MeanState") -> "MeanState":
        return MeanState(self.total + other.total, self.count + other.count)

    def metric_value(self) -> float:
        if self.count == 0:
            return float("nan")
        return self.total / self.count


@dataclass(frozen=True)
class StandardDeviationState(DoubleValuedState):
    """Welford triple; merge is Chan's parallel update — the same math
    as Spark's ``CentralMomentAgg`` and the reference's
    ``standard_deviation.py:18-26``."""

    n: float
    avg: float
    m2: float

    def __post_init__(self) -> None:
        if not self.n > 0:
            raise ValueError("Standard deviation is undefined for n = 0.")

    def sum(self, other: "StandardDeviationState") -> "StandardDeviationState":
        new_n = self.n + other.n
        delta = other.avg - self.avg
        delta_n = 0.0 if new_n == 0.0 else delta / new_n
        return StandardDeviationState(
            new_n,
            self.avg + delta_n * other.n,
            self.m2 + other.m2 + delta * delta_n * self.n * other.n,
        )

    def metric_value(self) -> float:
        if math.isinf(self.avg):
            return float("inf")
        if math.isnan(self.avg):
            return float("nan")
        return math.sqrt(self.m2 / self.n)


@dataclass(frozen=True)
class QuantileState(DoubleValuedState):
    """Exact-quantile result. Not mergeable (an exact quantile of parts
    does not determine the whole) — mirrors ``quantile.py:15-18``.
    Use ``QuantileSketchState`` for the mergeable/lineage path."""

    quantile: float

    def sum(self, other: "QuantileState") -> "QuantileState":
        raise NotImplementedError(
            "sum for exact quantile state not implemented; "
            "use QuantileSketchState for mergeable quantiles"
        )

    def metric_value(self) -> float:
        return self.quantile


@dataclass(frozen=True)
class QuantileSketchState(DoubleValuedState):
    """Mergeable quantile state: a fixed grid of (rank -> value)
    anchors plus the observation count.  Merging interpolates the
    unioned grids weighted by count — a lightweight mergeable sketch
    in the spirit of GK/KLL with bounded error O(1/len(grid)).
    """

    q: float
    count: int
    grid: tuple  # values at equi-spaced ranks 0..1 (len >= 2) or ()

    def sum(self, other: "QuantileSketchState") -> "QuantileSketchState":
        if self.count == 0:
            return other
        if other.count == 0:
            return self
        m = max(len(self.grid), len(other.grid))
        merged = _merge_quantile_grids(
            self.grid, self.count, other.grid, other.count, m
        )
        return QuantileSketchState(self.q, self.count + other.count, merged)

    def metric_value(self) -> float:
        if self.count == 0 or not self.grid:
            return float("nan")
        pos = self.q * (len(self.grid) - 1)
        lo = int(math.floor(pos))
        hi = min(lo + 1, len(self.grid) - 1)
        frac = pos - lo
        return self.grid[lo] * (1 - frac) + self.grid[hi] * frac


def _merge_quantile_grids(g1, n1, g2, n2, m):
    """Merge two equi-spaced quantile grids into one of size m by
    weighted inverse-CDF averaging."""
    total = n1 + n2

    def inv_cdf(grid, q):
        pos = q * (len(grid) - 1)
        lo = int(math.floor(pos))
        hi = min(lo + 1, len(grid) - 1)
        frac = pos - lo
        return grid[lo] * (1 - frac) + grid[hi] * frac

    # Pool anchor points as (value, weight) and recompute grid from the
    # weighted empirical CDF of the pooled anchors.
    pts = [(v, n1 / len(g1)) for v in g1] + [(v, n2 / len(g2)) for v in g2]
    pts.sort(key=lambda t: t[0])
    values = [p[0] for p in pts]
    weights = [p[1] for p in pts]
    cum = []
    acc = 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    out = []
    for i in range(m):
        target = (i / (m - 1)) * total if m > 1 else total
        # first anchor whose cumulative weight >= target
        lo, hi = 0, len(cum) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if cum[mid] < target:
                lo = mid + 1
            else:
                hi = mid
        out.append(values[lo])
    return tuple(out)


@dataclass(frozen=True)
class FrequencyStats(State):
    """Sufficient statistics of a group-frequency table: rows, groups,
    singleton groups, ``Σ c·ln c`` and the largest group count — what
    every scalar frequency-based metric (Uniqueness, Distinctness,
    UniqueValueRatio, CountDistinct, Entropy, Histogram) reduces to.

    Merging sums the first four fields and takes the max of the fifth,
    which is exact only when no group spans two merged parts (e.g.
    per-bucket states where the bucket is a function of the grouping
    columns); the analyzer turns the merged statistics into its metric.
    """

    total: int
    groups: int
    singletons: int
    clnc: float
    maxc: int

    def sum(self, other: "FrequencyStats") -> "FrequencyStats":
        return FrequencyStats(
            self.total + other.total,
            self.groups + other.groups,
            self.singletons + other.singletons,
            self.clnc + other.clnc,
            max(self.maxc, other.maxc),
        )


@dataclass(frozen=True)
class CorrelationState(DoubleValuedState):
    """Pearson-correlation sufficient statistics over rows where BOTH
    columns are non-null: ``(n, Σx, Σy, Σx², Σy², Σxy)``.  Merging is
    plain component-wise summation, so per-partition states combine
    commutatively (Deequ keeps the equivalent ``Corr`` aggregate;
    the reference has no two-column analyzer at all)."""

    n: float
    sx: float
    sy: float
    sxx: float
    syy: float
    sxy: float

    def sum(self, other: "CorrelationState") -> "CorrelationState":
        return CorrelationState(
            self.n + other.n,
            self.sx + other.sx,
            self.sy + other.sy,
            self.sxx + other.sxx,
            self.syy + other.syy,
            self.sxy + other.sxy,
        )

    def metric_value(self) -> float:
        if self.n == 0:
            return float("nan")
        cov = self.n * self.sxy - self.sx * self.sy
        vx = self.n * self.sxx - self.sx * self.sx
        vy = self.n * self.syy - self.sy * self.sy
        denom = math.sqrt(vx) * math.sqrt(vy)
        if denom == 0 or math.isnan(denom):
            return float("nan")
        return cov / denom


DATA_TYPE_BUCKETS = ("boolean", "integral", "fractional", "string", "null")


@dataclass(frozen=True)
class DataTypeHistogramState(DoubleValuedState):
    """Counts of string values classifiable as boolean / integral /
    fractional / other-string / null (Deequ's ``DataType`` analyzer).
    Merge = component-wise sum.  ``metric_value`` is the fraction of
    non-null values in the dominant bucket; the full distribution is
    available via ``histogram()``."""

    n_boolean: int
    n_integral: int
    n_fractional: int
    n_string: int
    n_null: int

    def sum(self, other: "DataTypeHistogramState") -> "DataTypeHistogramState":
        return DataTypeHistogramState(
            self.n_boolean + other.n_boolean,
            self.n_integral + other.n_integral,
            self.n_fractional + other.n_fractional,
            self.n_string + other.n_string,
            self.n_null + other.n_null,
        )

    def _counts(self) -> Dict[str, int]:
        return {
            "boolean": self.n_boolean,
            "integral": self.n_integral,
            "fractional": self.n_fractional,
            "string": self.n_string,
            "null": self.n_null,
        }

    def inferred_type(self) -> str:
        """Most specific type covering all non-null values: boolean if
        all boolean; integral if all numeric are integral and no plain
        strings; fractional if all numeric; else string."""
        c = self._counts()
        non_null = c["boolean"] + c["integral"] + c["fractional"] + c["string"]
        if non_null == 0:
            return "null"
        if c["boolean"] == non_null:
            return "boolean"
        if c["integral"] == non_null:
            return "integral"
        if c["integral"] + c["fractional"] == non_null:
            return "fractional"
        return "string"

    def histogram(self) -> Dict[str, float]:
        total = sum(self._counts().values())
        if total == 0:
            return {k: float("nan") for k in DATA_TYPE_BUCKETS}
        return {k: v / total for k, v in self._counts().items()}

    def metric_value(self) -> float:
        c = self._counts()
        non_null = c["boolean"] + c["integral"] + c["fractional"] + c["string"]
        if non_null == 0:
            return float("nan")
        return max(c["boolean"], c["integral"], c["fractional"], c["string"]) / non_null


_STATE_TYPES = {
    cls.__name__: cls
    for cls in (
        NumMatches,
        NumMatchesAndCount,
        MinState,
        MaxState,
        SumState,
        MeanState,
        StandardDeviationState,
        QuantileState,
        QuantileSketchState,
        FrequencyStats,
        CorrelationState,
        DataTypeHistogramState,
    )
}


def state_from_dict(d: Dict[str, Any]) -> Optional[State]:
    if d is None:
        return None
    d = dict(d)
    kind = d.pop("_type")
    cls = _STATE_TYPES[kind]
    names = {f.name for f in fields(cls)}
    kwargs = {k: v for k, v in d.items() if k in names}
    if kwargs.get("grid") is not None:
        kwargs["grid"] = tuple(kwargs["grid"])
    return cls(**kwargs)
