"""Analyzer framework: schema preconditions + scan-shareable compilation.

Architecture (Spark-first, not a port of the reference's eager pandas
execution in ``hooqu/analyzers/analyzer.py:249-261``):

* Preconditions run driver-side against ``df.schema`` — zero Spark jobs.
* Every scan-shareable analyzer contributes *Catalyst aggregate
  expressions*; the runner fuses all of them into ONE ``df.agg(...)``
  job (partial/final hash aggregation, whole-stage codegen).  Analyzers
  with different ``where`` filters fuse via conditional ``F.when``
  aggregates instead of pre-filtering, so one scan serves them all —
  the design the reference's own TODO points at
  (``hooqu/analyzers/minimum.py:36-41``) and its dormant
  ``run_scanning_analyzers`` sketched (``analysis_runner.py:173-230``).
* NaN parity: pandas conflates NaN and NULL; numeric analyzers wrap
  their target column in ``nanvl(col, NULL)`` so NaN values are skipped
  exactly like the reference's pandas kernels.
"""

from __future__ import annotations

import threading
import traceback
from abc import ABC, abstractmethod
from collections import OrderedDict
from typing import Callable, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..expr import translate
from ..metrics import DoubleMetric, Entity, Failure, Success
from ..states import State

COUNT_COL = "hooqu_count"


class MetricCalculationException(Exception):
    pass


class EmptyStateException(MetricCalculationException):
    pass


class NotColumnSpecifiedException(Exception):
    pass


# ---------------------------------------------------------------------------
# Preconditions — evaluated on df.schema only (no jobs launched).
# Reference: hooqu/analyzers/preconditions.py
# ---------------------------------------------------------------------------

def find_first_failing(
    schema: T.StructType,
    conditions: Sequence[Callable[[T.StructType], None]],
) -> Optional[Exception]:
    for cond in conditions:
        try:
            cond(schema)
        except Exception as e:  # noqa: BLE001 - mirrored reference behavior
            return e
    return None


def has_column(column: str) -> Callable[[T.StructType], None]:
    def f(schema: T.StructType) -> None:
        if column not in schema.fieldNames():
            raise KeyError(f"Input data does not include column {column}")

    return f


def is_numeric(column: str) -> Callable[[T.StructType], None]:
    def f(schema: T.StructType) -> None:
        dtype = schema[column].dataType
        if not isinstance(dtype, (T.NumericType, T.BooleanType)):
            raise ValueError(
                f"Expected type of column {column} to be one of numeric"
                f" but found {dtype.simpleString()} instead!"
            )

    return f


def is_string(column: str) -> Callable[[T.StructType], None]:
    def f(schema: T.StructType) -> None:
        dtype = schema[column].dataType
        if not isinstance(dtype, T.StringType):
            raise ValueError(
                f"Expected type of column {column} to be string"
                f" but found {dtype.simpleString()} instead!"
            )

    return f


def at_least_one(columns: Sequence[str]) -> Callable[[T.StructType], None]:
    def f(schema: T.StructType) -> None:
        if not len(columns):
            raise NotColumnSpecifiedException(
                "At least one column needs to be specified!"
            )

    return f


# ---------------------------------------------------------------------------
# Expression helpers
# ---------------------------------------------------------------------------

def nan_safe_col(df: DataFrame, column: str) -> Column:
    """Reference parity: pandas kernels skip NaN (NaN==missing); Spark
    treats NaN as a value.  Map NaN -> NULL for float/double columns so
    Spark's null-skipping aggregates reproduce pandas semantics."""
    col = F.col(column)
    dtype = df.schema[column].dataType
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.nanvl(col, F.lit(None).cast(dtype))
    return col


def where_cond(where: Optional[str]) -> Optional[Column]:
    if where is None:
        return None
    return F.expr(translate(where))


def gated(col: Column, cond: Optional[Column]) -> Column:
    """Gate a column on an optional filter so differently-filtered
    analyzers still share one scan (conditional aggregation)."""
    if cond is None:
        return col
    return F.when(cond, col)


def count_rows(cond: Optional[Column]) -> Column:
    if cond is None:
        return F.count(F.lit(1))
    return F.coalesce(
        F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
    ).cast("long")


def entity_from(columns: Sequence[str]) -> Entity:
    return Entity.COLUMN if len(columns) == 1 else Entity.MULTICOLUMN


def metric_from_value(
    value: float, name: str, instance: str, entity: Entity
) -> DoubleMetric:
    return DoubleMetric(entity, name, instance, Success(value))


def metric_from_failure(
    ex: Exception, name: str, instance: str, entity: Entity
) -> DoubleMetric:
    if isinstance(ex, AssertionError):
        summary = traceback.extract_tb(ex.__traceback__)
        ex.args += tuple(summary.format()[-2:])
    return DoubleMetric(entity, name, instance, Failure(ex))


def metric_from_empty(
    analyzer: "Analyzer", name: str, instance: str, entity: Entity = Entity.COLUMN
) -> DoubleMetric:
    e = EmptyStateException(
        f"Empty state for analyzer {analyzer!r}, all input values were None."
    )
    return metric_from_failure(e, name, instance, entity)


def sql_ident(name: str) -> str:
    """Backtick-quote a column name for interpolation into an
    ``F.expr``/``selectExpr`` SQL string (backticks double)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str_lit(s: str) -> str:
    """Escape a Python string for use inside a single-quoted Spark SQL
    string literal (backslashes and quotes)."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


# ---------------------------------------------------------------------------
# Driver-side expression cache
#
# Building Catalyst Columns from Python is pure py4j round-trip cost:
# a fused 50-expression profiler pass spends ~0.7s of DRIVER time
# re-constructing identical expression trees on every invocation
# (measured via cProfile on profile_columns over sf0.1 orders).  An
# analyzer's aggregate/projection expressions are a deterministic
# function of (analyzer identity, input schema) — the contract is that
# ``aggregation_exprs``/``projection_cols`` may consult ``df`` ONLY
# through ``df.schema``/``df.columns`` — and unresolved Columns are
# immutable and reusable across DataFrames, so they are memoized here.
# Repeated profiling/verification of same-shaped tables (incremental
# monitoring, per-batch streaming aggregation) then skips the py4j
# chatter entirely.  Keyed additionally on the py4j gateway identity so
# a restarted JVM can never serve stale Java object references.
# ---------------------------------------------------------------------------

_EXPR_CACHE: "OrderedDict[tuple, object]" = OrderedDict()
_EXPR_CACHE_MAX = 512
# StreamingVerification's foreachBatch runs cached_aggregation_exprs on
# a streaming thread concurrently with driver-thread profiling; the LRU
# bookkeeping (move_to_end / popitem) is not atomic, so guard it.  The
# lock cost is nanoseconds against the py4j round trips being saved.
_EXPR_CACHE_LOCK = threading.Lock()


def _schema_fingerprint(df: DataFrame) -> tuple:
    return tuple((f.name, f.dataType.simpleString()) for f in df.schema.fields)


_GATEWAY_SEQ = [0]


def _gateway_token() -> int:
    """Monotonic token stamped ON the gateway object (``id()`` alone
    can be recycled by CPython after a stopped JVM's gateway is GC'd,
    which would serve cached Columns wrapping dead Java references)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return 0
    tok = getattr(gw, "_hooqu_expr_cache_token", None)
    if tok is None:
        _GATEWAY_SEQ[0] += 1
        tok = _GATEWAY_SEQ[0]
        gw._hooqu_expr_cache_token = tok
    return tok


def _expr_cache_get(kind: str, analyzer: "Analyzer", df: DataFrame):
    try:
        key = (kind, _gateway_token(), analyzer._identity(), _schema_fingerprint(df))
        hash(key)
    except TypeError:  # unhashable identity component -> no caching
        return None, None
    with _EXPR_CACHE_LOCK:
        hit = _EXPR_CACHE.get(key)
        if hit is not None:
            _EXPR_CACHE.move_to_end(key)
    return key, hit


def _expr_cache_put(key: tuple, value) -> None:
    if key is None:
        return
    with _EXPR_CACHE_LOCK:
        _EXPR_CACHE[key] = value
        while len(_EXPR_CACHE) > _EXPR_CACHE_MAX:
            _EXPR_CACHE.popitem(last=False)


# ---------------------------------------------------------------------------
# Analyzer base classes
# ---------------------------------------------------------------------------

class Analyzer(ABC):
    """An aggregation operator reducing a DataFrame to one DoubleMetric.

    Identity (``__eq__``/``__hash__``) keys the dedup dict in the
    runner.  Fixes two reference bugs: the self-comparison in
    ``analyzer.py:135`` and ``PatternMatch``'s missing identity
    extension (two patterns on one column no longer collide).
    """

    name: str
    instance: str
    entity: Entity
    where: Optional[str]

    def __init__(
        self,
        name: str,
        instance: str,
        entity: Entity = Entity.COLUMN,
        where: Optional[str] = None,
    ):
        self.name = name
        self.instance = instance
        self.entity = entity
        self.where = where

    # -- identity ----------------------------------------------------------
    def _identity(self) -> tuple:
        return (type(self), self.name, self.instance, self.entity, self.where)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, Analyzer):
            return NotImplemented
        return self._identity() == other._identity()

    def __hash__(self) -> int:
        return hash(self._identity())

    def __repr__(self) -> str:
        instance_summary = self.instance
        if len(self.instance) > 120:
            instance_summary = f"{self.instance[:40]} ... {self.instance[-40:]}"
        return f"{self.name}({instance_summary})"

    # -- contract ----------------------------------------------------------
    def preconditions(self) -> List[Callable[[T.StructType], None]]:
        return []

    def to_failure_metric(self, ex: Exception) -> DoubleMetric:
        return metric_from_failure(ex, self.name, self.instance, self.entity)

    @abstractmethod
    def compute_state_from(self, data: DataFrame) -> Optional[State]:
        """Run this analyzer standalone (one Spark job)."""

    @abstractmethod
    def compute_metric_from(self, state: Optional[State]) -> DoubleMetric:
        ...

    def calculate(self, data: DataFrame) -> DoubleMetric:
        """Precondition check -> state -> metric, errors becoming
        Failure metrics (reference lifecycle ``analyzer.py:80-121``)."""
        error = find_first_failing(data.schema, self.preconditions())
        if error is not None:
            return self.to_failure_metric(error)
        try:
            state = self.compute_state_from(data)
        except Exception as e:  # noqa: BLE001
            return self.to_failure_metric(e)
        return self.compute_metric_from(state)


class ScanShareableAnalyzer(Analyzer):
    """Analyzer whose work is a set of aggregate expressions over one
    scan; the runner fuses these across analyzers into a single job."""

    @property
    def fuses_into_scan(self) -> bool:
        """False when this instance must run standalone (e.g. CustomSql
        with ``where``, whose black-box aggregate cannot be gated with
        conditional aggregation); the runner then uses ``calculate``."""
        return True

    @abstractmethod
    def aggregation_exprs(self, df: DataFrame) -> List[Column]:
        """Unaliased aggregate expressions, already gated on ``where``."""

    @abstractmethod
    def state_from_agg(self, values: Sequence) -> Optional[State]:
        """Build the state from this analyzer's slice of the fused row."""

    def projection_cols(self, df: DataFrame) -> dict:
        """Derived columns (name -> Column) to project BEFORE the
        aggregation.  Catalyst does not eliminate common subexpressions
        across independent aggregate conditions, so an analyzer whose
        buckets share an expensive classification (e.g. regex chains)
        computes it once here; ``aggregation_exprs`` then references
        the named column when present and falls back to the inline
        expression otherwise (lineage/streaming paths)."""
        return {}

    def cached_aggregation_exprs(self, df: DataFrame) -> List[Column]:
        """``aggregation_exprs`` through the driver-side expression
        cache (see module comment).  All fused runners go through this;
        override ``aggregation_exprs`` as usual — subclasses whose
        expressions depend on anything beyond (identity, df.schema)
        must not exist (that is the ``aggregation_exprs`` contract)."""
        key, hit = _expr_cache_get("agg", self, df)
        if hit is not None:
            return list(hit)
        exprs = self.aggregation_exprs(df)
        _expr_cache_put(key, tuple(exprs))
        return exprs

    def cached_projection_cols(self, df: DataFrame) -> dict:
        key, hit = _expr_cache_get("proj", self, df)
        if hit is not None:
            return dict(hit)
        cols = self.projection_cols(df)
        _expr_cache_put(key, dict(cols))
        return cols

    def compute_state_from(self, data: DataFrame) -> Optional[State]:
        from .fused import UnbuildableAnalyzer, fused_states

        state = fused_states(data, [self])[None][self]
        if isinstance(state, Exception):
            raise state.error if isinstance(state, UnbuildableAnalyzer) else state
        return state

    def compute_metric_from(self, state: Optional[State]) -> DoubleMetric:
        if state is not None:
            return metric_from_value(
                state.metric_value(), self.name, self.instance, self.entity
            )
        return metric_from_empty(self, self.name, self.instance, self.entity)


def apply_projections(
    df: DataFrame, analyzers: Sequence["ScanShareableAnalyzer"]
) -> DataFrame:
    """Extend ``df`` with every analyzer's shared derived columns
    (deduplicated by name) so the subsequent fused aggregation
    evaluates each expensive classification exactly once per row."""
    proj: dict = {}
    for a in analyzers:
        for name, col in a.cached_projection_cols(df).items():
            proj.setdefault(name, col)
    if not proj:
        return df
    return df.select("*", *(c.alias(n) for n, c in proj.items()))
