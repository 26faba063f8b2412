"""Scan-shareable analyzers: each contributes Catalyst aggregate
expressions fused by the runner into a single ``df.agg`` job.

Semantics mirror the reference analyzers (cited per class); execution
is Spark-native: JVM-side aggregates with conditional ``F.when`` gating
for ``where`` filters, NaN->NULL normalization for pandas parity, and a
vectorized Arrow UDF only where Python-regex parity demands it.
"""

from __future__ import annotations

import re
from typing import Callable, List, Optional, Pattern, Sequence, Tuple, Union

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..expr import translate
from ..metrics import DoubleMetric, Entity
from ..states import (
    CorrelationState,
    DataTypeHistogramState,
    MaxState,
    MeanState,
    MinState,
    NumMatches,
    NumMatchesAndCount,
    QuantileState,
    StandardDeviationState,
    State,
    SumState,
)
from .base import (
    Analyzer,
    ScanShareableAnalyzer,
    count_rows,
    gated,
    has_column,
    is_numeric,
    is_string,
    nan_safe_col,
    sql_ident,
    where_cond,
)


def _f(value, default: float = float("nan")) -> float:
    """Row value -> float with a default for NULL."""
    return default if value is None else float(value)


class Size(ScanShareableAnalyzer):
    """Row count (DATASET entity).  Parity quirk preserved: the
    reference accepts ``where`` but ignores it (``size.py:24-30``)."""

    def __init__(self, where: Optional[str] = None):
        super().__init__("Size", "*", Entity.DATASET, where)

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        return [F.count(F.lit(1))]

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        return NumMatches(int(values[0] or 0))

    def compute_metric_from(self, state: Optional[State]) -> DoubleMetric:
        # no state (no rows, e.g. no buckets to merge) is the monoid
        # identity: an empty input has size 0, not an empty-state failure
        if state is None:
            state = NumMatches(0)
        return super().compute_metric_from(state)


class Completeness(ScanShareableAnalyzer):
    """Fraction of non-null (pandas: non-NaN) values in a column.
    Reference: ``hooqu/analyzers/completeness.py``."""

    def __init__(self, column: str, where: Optional[str] = None):
        super().__init__("Completeness", column, Entity.COLUMN, where)

    def preconditions(self):
        return [has_column(self.instance)]

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        cond = where_cond(self.where)
        col = nan_safe_col(df, self.instance)
        return [F.count(gated(col, cond)), count_rows(cond)]

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        return NumMatchesAndCount(int(values[0] or 0), int(values[1] or 0))


class _NumericAggAnalyzer(ScanShareableAnalyzer):
    """Shared shape for Minimum/Maximum/Sum."""

    _agg: Callable[[Column], Column]

    def __init__(self, name: str, column: str, where: Optional[str] = None):
        super().__init__(name, column, Entity.COLUMN, where)

    def preconditions(self):
        return [has_column(self.instance), is_numeric(self.instance)]

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        cond = where_cond(self.where)
        return [type(self)._agg(gated(nan_safe_col(df, self.instance), cond))]


class Minimum(_NumericAggAnalyzer):
    """Reference: ``hooqu/analyzers/minimum.py`` (NaN-skipping min)."""

    _agg = staticmethod(F.min)

    def __init__(self, column: str, where: Optional[str] = None):
        super().__init__("Minimum", column, where)

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        return MinState(_f(values[0]))


class Maximum(_NumericAggAnalyzer):
    """Reference: ``hooqu/analyzers/maximum.py``."""

    _agg = staticmethod(F.max)

    def __init__(self, column: str, where: Optional[str] = None):
        super().__init__("Maximum", column, where)

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        return MaxState(_f(values[0]))


class Sum(_NumericAggAnalyzer):
    """Reference: ``hooqu/analyzers/sum.py`` (pandas sum: empty/all-NaN
    sums to 0.0, hence the NULL->0 default)."""

    _agg = staticmethod(F.sum)

    def __init__(self, column: str, where: Optional[str] = None):
        super().__init__("Sum", column, where)

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        return SumState(_f(values[0], default=0.0))


class Mean(ScanShareableAnalyzer):
    """Kept as mergeable (total, count) — never ``F.avg`` directly —
    so partition states merge (``hooqu/analyzers/mean.py:10-22``)."""

    def __init__(self, column: str, where: Optional[str] = None):
        super().__init__("Mean", column, Entity.COLUMN, where)

    def preconditions(self):
        return [has_column(self.instance), is_numeric(self.instance)]

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        cond = where_cond(self.where)
        col = gated(nan_safe_col(df, self.instance), cond)
        return [F.sum(col), F.count(col)]

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        return MeanState(_f(values[0], default=0.0), int(values[1] or 0))


class StandardDeviation(ScanShareableAnalyzer):
    """Population stddev (ddof=0), NaN-skipping.  The Spark job returns
    the Welford triple ``(n, avg, m2)`` — the same sufficient statistic
    as Spark's CentralMomentAgg and the reference's ``pop_variance``
    kernel (``hooqu/dataframe.py:68-101``) — so partition states merge
    via Chan's update (``StandardDeviationState.sum``)."""

    def __init__(self, column: str, where: Optional[str] = None):
        super().__init__("StandardDeviation", column, Entity.COLUMN, where)

    def preconditions(self):
        return [has_column(self.instance), is_numeric(self.instance)]

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        cond = where_cond(self.where)
        col = gated(nan_safe_col(df, self.instance), cond)
        return [F.count(col), F.avg(col), F.var_pop(col)]

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        n = int(values[0] or 0)
        # n == 0 raises ValueError in the state constructor -> Failure
        # metric, matching ``standard_deviation.py:37-39``.
        avg = _f(values[1])
        var = _f(values[2])
        return StandardDeviationState(n, avg, var * n)


class Quantile(ScanShareableAnalyzer):
    """Exact quantile with pandas ``interpolation='nearest'`` semantics
    (returns an actual data value; reference ``hooqu/analyzers/quantile.py``).

    Distributed strategy: two phases sharing the fused scan.  Phase 1
    contributes ``count(col)`` to the shared ``df.agg``; phase 2 issues
    ``percentile_disc(p) WITHIN GROUP (ORDER BY col)`` at
    ``p = (k + 0.5) / n`` where ``k = banker's-round(q*(n-1))``.
    ``percentile_disc`` returns the value at the smallest 0-based rank
    ``i`` with ``(i+1)/n >= p``; ``p`` sits half a rank clear of both
    neighbours, so rounding in ``p`` can never move the pick off ``k``
    (``percentile`` at ``k/(n-1)`` interpolates whenever no double
    makes ``q*(n-1)`` exactly ``k``).  Spark's exact percentiles buffer
    values per group; for 100TB-scale use ``ApproxQuantile`` instead.
    """

    def __init__(self, column: str, quantile: float, where: Optional[str] = None):
        super().__init__("Quantile", column, Entity.COLUMN, where)
        self.quantile = quantile

    def _identity(self):
        return super()._identity() + (self.quantile,)

    def preconditions(self):
        return [has_column(self.instance), is_numeric(self.instance)]

    def _validate(self) -> None:
        if not (0 <= self.quantile <= 1):
            # same message pandas raises inside the reference kernel
            raise ValueError(
                "percentiles should all be in the interval [0, 1]"
            )

    # -- two-phase protocol (used by the runner) ----------------------------
    def phase1_exprs(self, df: DataFrame) -> List[Column]:
        self._validate()
        return [F.expr(f"count({self._gated_sql(df)})")]

    def _gated_sql(self, df: DataFrame) -> str:
        """The column both phases read (NaN -> NULL, ``where``-gated),
        as SQL text because ``WITHIN GROUP`` has no DataFrame-API form;
        phase 1 counts exactly the values phase 2 ranks."""
        col = sql_ident(self.instance)
        dtype = df.schema[self.instance].dataType
        if isinstance(dtype, (T.DoubleType, T.FloatType)):
            col = f"nanvl({col}, NULL)"
        if self.where is not None:
            col = f"CASE WHEN ({translate(self.where)}) THEN {col} END"
        return f"CAST({col} AS DOUBLE)"

    def _rank_fraction(self, n: int) -> float:
        k = round(self.quantile * (n - 1))  # banker's rounding = pandas 'nearest'
        return (k + 0.5) / n

    @staticmethod
    def fused_phase2_expr(
        df: DataFrame, group: "List[Tuple[Quantile, int]]"
    ) -> Column:
        """ONE ``percentile_disc(array(p1..pk))`` for every exact
        quantile sharing a (column, where) pair — a single sort buffer
        per group instead of one per quantile (Spark's exact
        percentiles buffer all values; k quantiles on one column
        would otherwise cost k buffers of the whole column)."""
        first = group[0][0]
        fracs = ", ".join(repr(q._rank_fraction(n)) for q, n in group)
        return F.expr(
            f"percentile_disc(array({fracs})) WITHIN GROUP"
            f" (ORDER BY {first._gated_sql(df)})"
        )

    def state_from_phases(self, n: int, value) -> Optional[State]:
        if n == 0:
            return QuantileState(float("nan"))
        return QuantileState(_f(value))

    # -- standalone path -----------------------------------------------------
    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        return self.phase1_exprs(df)

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        raise NotImplementedError("Quantile uses the two-phase protocol")

    def compute_state_from(self, data: DataFrame) -> Optional[State]:
        n = int(data.agg(*self.phase1_exprs(data)).first()[0] or 0)
        value = None
        if n:
            value = data.agg(self.fused_phase2_expr(data, [(self, n)])).first()[0][0]
        return self.state_from_phases(n, value)

    def __repr__(self):
        return super().__repr__()[:-1] + f", quantile={self.quantile})"


class ApproxQuantile(ScanShareableAnalyzer):
    """Scale-path quantile: ``percentile_approx`` (GK sketch, mergeable
    partial aggregation, bounded memory).  Extension beyond the
    reference — the sketch the north rule's lineage states call for."""

    def __init__(
        self,
        column: str,
        quantile: float,
        accuracy: int = 10000,
        where: Optional[str] = None,
    ):
        super().__init__("ApproxQuantile", column, Entity.COLUMN, where)
        self.quantile = quantile
        self.accuracy = accuracy

    def _identity(self):
        return super()._identity() + (self.quantile, self.accuracy)

    def preconditions(self):
        return [has_column(self.instance), is_numeric(self.instance)]

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        cond = where_cond(self.where)
        col = gated(nan_safe_col(df, self.instance), cond)
        return [
            F.percentile_approx(
                col.cast("double"), F.lit(self.quantile), F.lit(self.accuracy)
            )
        ]

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        return QuantileState(_f(values[0]))


class QuantileSketch(ScanShareableAnalyzer):
    """Mergeable quantile: per-scan (or per-partition) equi-spaced
    rank grid + count -> ``QuantileSketchState`` (monoid).  This is the
    lineage-friendly quantile the reference left unimplemented
    (``quantile.py:15-18`` raises on merge); error is O(1/grid_size)
    quantile units per merge level."""

    def __init__(
        self,
        column: str,
        quantile: float,
        grid_size: int = 101,
        where: Optional[str] = None,
    ):
        super().__init__("QuantileSketch", column, Entity.COLUMN, where)
        self.quantile = quantile
        self.grid_size = grid_size

    def _identity(self):
        return super()._identity() + (self.quantile, self.grid_size)

    def preconditions(self):
        return [has_column(self.instance), is_numeric(self.instance)]

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        cond = where_cond(self.where)
        col = gated(nan_safe_col(df, self.instance), cond).cast("double")
        grid = [i / (self.grid_size - 1) for i in range(self.grid_size)]
        return [
            F.count(col),
            F.percentile(col, F.array(*[F.lit(g) for g in grid])),
        ]

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        from ..states import QuantileSketchState

        n = int(values[0] or 0)
        grid = values[1]
        if n == 0 or grid is None:
            return QuantileSketchState(self.quantile, 0, ())
        return QuantileSketchState(self.quantile, n, tuple(float(g) for g in grid))


class ApproxCountDistinct(ScanShareableAnalyzer):
    """HLL-based distinct count (``approx_count_distinct``); mergeable
    by construction inside Spark's partial aggregation.  Extension
    beyond the reference (Deequ has the same analyzer)."""

    def __init__(self, column: str, rsd: float = 0.05, where: Optional[str] = None):
        super().__init__("ApproxCountDistinct", column, Entity.COLUMN, where)
        self.rsd = rsd

    def _identity(self):
        return super()._identity() + (self.rsd,)

    def preconditions(self):
        return [has_column(self.instance)]

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        cond = where_cond(self.where)
        return [
            F.approx_count_distinct(gated(F.col(self.instance), cond), rsd=self.rsd)
        ]

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        return NumMatches(int(values[0] or 0))


class MinLength(ScanShareableAnalyzer):
    """Min string length (Deequ-style extension)."""

    def __init__(self, column: str, where: Optional[str] = None):
        super().__init__("MinLength", column, Entity.COLUMN, where)

    def preconditions(self):
        return [has_column(self.instance), is_string(self.instance)]

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        cond = where_cond(self.where)
        return [F.min(gated(F.length(F.col(self.instance)), cond))]

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        return MinState(_f(values[0]))


class MaxLength(ScanShareableAnalyzer):
    """Max string length (Deequ-style extension)."""

    def __init__(self, column: str, where: Optional[str] = None):
        super().__init__("MaxLength", column, Entity.COLUMN, where)

    def preconditions(self):
        return [has_column(self.instance), is_string(self.instance)]

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        cond = where_cond(self.where)
        return [F.max(gated(F.length(F.col(self.instance)), cond))]

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        return MaxState(_f(values[0]))


class Compliance(ScanShareableAnalyzer):
    """Fraction of rows satisfying a predicate; NULL/NaN predicate
    results count in the denominator only — identical to the pandas
    ``eval``+``sum`` kernel (``hooqu/analyzers/compliance.py:33-40``).
    Executed as a conditional aggregate, fully JVM-side.

    Predicate dialect note: comparisons follow Spark SQL semantics —
    NULL comparisons yield NULL (row not counted as compliant) and NaN
    sorts GREATER than any number, so ``col > 10`` is TRUE for NaN.
    pandas ``eval`` instead makes every NaN comparison except ``!=``
    False; the two dialects cannot be mechanically aligned for
    arbitrary predicates, so the Spark behavior is the documented one
    (pinned in test_random_frames.py)."""

    def __init__(self, instance: str, predicate: str, where: Optional[str] = None):
        super().__init__("Compliance", instance, Entity.COLUMN, where)
        self.predicate = predicate

    def _identity(self):
        return super()._identity() + (self.predicate,)

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        cond = where_cond(self.where)
        pred = F.expr(translate(self.predicate))
        match = pred if cond is None else (cond & pred)
        exprs = [
            F.coalesce(
                F.sum(F.when(match, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
            ),
            count_rows(cond),
        ]
        # Force analysis now so an unresolvable predicate becomes a
        # per-analyzer Failure instead of poisoning the fused job.
        df.select(F.when(match, F.lit(1)))
        return exprs

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        return NumMatchesAndCount(int(values[0] or 0), int(values[1] or 0))


class Correlation(ScanShareableAnalyzer):
    """Pearson correlation of two numeric columns over rows where BOTH
    are non-null (and non-NaN, for pandas parity) — a Deequ-style
    two-column extension (the reference has no multi-column numeric
    analyzer).  Contributes six plain sums to the fused scan, so the
    per-partition states merge by addition (``CorrelationState``);
    the metric itself matches SQL ``corr(x, y)``."""

    def __init__(self, col_a: str, col_b: str, where: Optional[str] = None):
        super().__init__(
            "Correlation", f"{col_a},{col_b}", Entity.MULTICOLUMN, where
        )
        self.col_a = col_a
        self.col_b = col_b

    def _identity(self):
        return super()._identity() + (self.col_a, self.col_b)

    def preconditions(self):
        return [
            has_column(self.col_a),
            is_numeric(self.col_a),
            has_column(self.col_b),
            is_numeric(self.col_b),
        ]

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        cond = where_cond(self.where)
        x = nan_safe_col(df, self.col_a).cast("double")
        y = nan_safe_col(df, self.col_b).cast("double")
        pair = x.isNotNull() & y.isNotNull()
        both = pair if cond is None else (cond & pair)
        x, y = F.when(both, x), F.when(both, y)
        return [
            F.count(x),
            F.sum(x),
            F.sum(y),
            F.sum(x * x),
            F.sum(y * y),
            F.sum(x * y),
        ]

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        n = int(values[0] or 0)
        if n == 0:
            return None
        return CorrelationState(
            float(n), *(_f(v, default=0.0) for v in values[1:6])
        )


# Classifier semantics for DataTypeHistogram, as anchored full-value
# regexes.  boolean = ^(true|false)$ and integral = ^[-+]?[0-9]+$ are
# implemented with equivalent cheap string predicates in _classifier;
# only the fractional regex still runs (dot-gated), JVM-side via rlike.
# Anchoring is STRICT end-of-input (`\z`, not `$`): Java's default `$`
# also matches before one trailing line terminator, so "123\n" would
# count as integral under `$` while the string predicates (and DuckDB's
# RE2 `$`) reject it.  Strict anchoring keeps all five buckets — and
# the cross-engine oracle — on one consistent rule: a value with a
# trailing newline is a string.  Pinned by
# tests/test_extended_analyzers.py::test_trailing_newline_is_string.
_FRACTIONAL_RE = (
    "^[-+]?([0-9]*\\.[0-9]+|[0-9]+\\.[0-9]*)([eE][-+]?[0-9]+)?\\z"
)


class DataTypeHistogram(ScanShareableAnalyzer):
    """Classify every value of a string column as boolean / integral /
    fractional / other-string / null and count each bucket in the fused
    scan (Deequ's ``DataType`` analyzer; no reference equivalent).
    The scalar metric is the dominant non-null bucket's fraction; the
    full distribution and the inferred most-specific type come from the
    state (``DataTypeHistogramState.histogram()`` / ``inferred_type()``).
    """

    def __init__(self, column: str, where: Optional[str] = None):
        super().__init__("DataTypeHistogram", column, Entity.COLUMN, where)

    def preconditions(self):
        return [has_column(self.instance), is_string(self.instance)]

    def _classifier(self) -> Column:
        """Bucket index 0..4 via a short-circuit CASE chain.

        Regex-equivalent but mostly regex-free (measured ~5x faster on
        non-numeric string columns, where every row used to pay all
        three Java-regex evals):

        * boolean ``^(true|false)$``  == exact ``isin`` equality;
        * integral ``^[-+]?[0-9]+$``  == sign-stripped body non-empty
          with only ASCII digits (``translate`` emptiness);
        * fractional requires a mandatory ``.`` in both regex branches,
          so the (kept, for exactness) regex is gated on a cheap
          ``contains('.')``.

        Built as ONE ``F.expr`` SQL string: the equivalent
        Column-builder chain costs ~0.13s of driver-side py4j round
        trips PER COLUMN per call (measured via cProfile on
        profile_columns), which dominated the profiler's wall time on
        small inputs; a single SQL parse is one round trip for the
        whole tree."""
        c = sql_ident(self.instance)
        body = (
            f"CASE WHEN substr({c},1,1) IN ('+','-')"
            f" THEN substr({c},2,length({c})) ELSE {c} END"
        )
        # Spark SQL string literals treat backslash as an escape, so
        # the regex's backslashes must be doubled in the literal.
        frac_re = _FRACTIONAL_RE.replace("\\", "\\\\")
        return F.expr(
            f"CASE WHEN {c} IS NULL THEN 4"
            f" WHEN {c} IN ('true','false') THEN 0"
            f" WHEN ({body}) != ''"
            f" AND translate({body},'0123456789','') = '' THEN 1"
            f" WHEN contains({c},'.') AND {c} RLIKE '{frac_re}' THEN 2"
            f" ELSE 3 END"
        )

    @property
    def _idx_col(self) -> str:
        return f"_hooqu_dtype_idx_{self.instance}"

    def projection_cols(self, df: DataFrame) -> dict:
        return {self._idx_col: self._classifier()}

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        cond = where_cond(self.where)
        # Use the pre-projected classification when the runner supplied
        # it (one regex-chain eval per row, measured ~1.4x faster than
        # per-bucket regexes and ~3x faster than re-evaluating the
        # chain inside each of the 5 aggregates); fall back to the
        # inline chain on paths without projection support.
        idx = (
            F.col(self._idx_col)
            if self._idx_col in df.columns
            else self._classifier()
        )
        out = []
        for i in range(5):
            match = (idx == i) if cond is None else (cond & (idx == i))
            out.append(
                F.coalesce(
                    F.sum(F.when(match, F.lit(1)).otherwise(F.lit(0))),
                    F.lit(0),
                )
            )
        return out

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        return DataTypeHistogramState(*(int(v or 0) for v in values[:5]))


class CustomSql(ScanShareableAnalyzer):
    """Arbitrary scalar SQL aggregate expression as a metric (Deequ's
    ``CustomSql`` analyzer; no reference equivalent) — e.g.
    ``CustomSql("max(price) - min(price)", instance="price_range")``.
    Fuses into the shared single-scan aggregation like any other
    analyzer; the expression must be a Spark SQL aggregate producing
    one numeric value."""

    def __init__(
        self,
        expression: str,
        instance: Optional[str] = None,
        where: Optional[str] = None,
    ):
        super().__init__(
            "CustomSql", instance or expression, Entity.DATASET, where
        )
        self.expression = expression

    def _identity(self):
        return super()._identity() + (self.expression,)

    @property
    def fuses_into_scan(self) -> bool:
        # A black-box aggregate cannot be gated with conditional
        # aggregation, so a `where`-filtered CustomSql runs standalone
        # over a pre-filtered frame instead of joining the fused scan.
        return self.where is None

    def _checked_expr(self, df: DataFrame) -> Column:
        expr = F.expr(self.expression)
        # Aggregate-context analysis check (no job): ``limit(0).agg``
        # resolves the plan eagerly, rejecting both unresolvable AND
        # resolvable-but-non-aggregate expressions (e.g. "v + 1") —
        # a plain ``df.select(expr)`` accepts the latter, which would
        # then fail the entire fused job with MISSING_GROUP_BY instead
        # of failing this analyzer only.
        df.limit(0).agg(expr)
        return expr

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        if self.where is not None:
            raise ValueError(
                "CustomSql with `where` cannot fuse into a shared scan;"
                " it runs standalone over a pre-filtered frame"
            )
        return [self._checked_expr(df)]

    def compute_state_from(self, data: DataFrame) -> Optional[State]:
        if self.where is not None:
            data = data.where(F.expr(translate(self.where)))
        expr = self._checked_expr(data)
        row = data.agg(expr).first()
        return self.state_from_agg(list(row))

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        if values[0] is None:
            return None
        return SumState(float(values[0]))


def _python_regex_matcher(pattern: Union[str, Pattern]):
    pat = pattern if isinstance(pattern, re.Pattern) else re.compile(pattern)

    @pandas_udf("boolean")
    def regex_match(s: pd.Series) -> pd.Series:
        # identical kernel to the reference's ``Series.str.contains``
        # (``hooqu/dataframe.py:57-65``): re.search substring semantics
        return s.str.contains(pat).astype("boolean")

    return regex_match


class PatternMatch(ScanShareableAnalyzer):
    """Fraction of values matching a regex.  Two execution paths:

    * ``dialect='python'`` (default): vectorized Arrow ``pandas_udf``
      running CPython ``re.search`` — byte-identical semantics to the
      reference (PII patterns use constructs whose behavior differs
      between Python and Java regex dialects).
    * ``dialect='java'``: ``rlike`` — JVM-side, whole-stage codegen;
      use when the pattern is known Java-compatible and throughput
      matters (the 100TB path).

    Reference: ``hooqu/analyzers/pattern_match.py``.
    """

    def __init__(
        self,
        column: str,
        pattern: Union[str, Pattern],
        where: Optional[str] = None,
        dialect: str = "python",
    ):
        super().__init__("PatternMatch", column, Entity.COLUMN, where)
        self.pattern = pattern
        self.dialect = dialect

    @property
    def _pattern_str(self) -> str:
        return (
            self.pattern.pattern
            if isinstance(self.pattern, re.Pattern)
            else self.pattern
        )

    def _identity(self):
        # Reference bug fixed: PatternMatch defined no identity
        # extension, so two patterns on one column collided in the
        # dedup dict (``pattern_match.py`` has no __eq__/__hash__).
        return super()._identity() + (self._pattern_str, self.dialect)

    def preconditions(self):
        return [has_column(self.instance), is_string(self.instance)]

    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        cond = where_cond(self.where)
        if self.dialect == "java":
            match_col = F.col(self.instance).rlike(self._pattern_str)
        else:
            match_col = _python_regex_matcher(self.pattern)(F.col(self.instance))
        match = match_col if cond is None else (cond & match_col)
        return [
            F.coalesce(
                F.sum(F.when(match, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
            ),
            count_rows(cond),
        ]

    def state_from_agg(self, values: Sequence) -> Optional[State]:
        return NumMatchesAndCount(int(values[0] or 0), int(values[1] or 0))
