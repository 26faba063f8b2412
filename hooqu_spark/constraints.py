"""Constraint layer: metric -> pass/fail.

Driver-side pure Python; near-verbatim semantics of the reference's
``hooqu/constraints/`` package (constraint.py, analysis_based_constraint.py,
constraints.py), since assertion lambdas and status rollups never touch
executors.  The ``sum_constraint`` name bug (interpolating the builtin
``sum`` — ``constraints.py:121``) is fixed.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from dataclasses import dataclass, replace
from enum import Enum
from typing import Callable, Mapping, Optional, Pattern, Sequence, Union

from .analyzers import (
    Analyzer,
    ApproxCountDistinct,
    Completeness,
    Compliance,
    CountDistinct,
    Correlation,
    DataTypeHistogram,
    Distinctness,
    Entropy,
    Maximum,
    MaxLength,
    Mean,
    Minimum,
    MinLength,
    MutualInformation,
    PatternMatch,
    Quantile,
    Size,
    StandardDeviation,
    Sum,
    Uniqueness,
    UniqueValueRatio,
)
from .metrics import Metric, Success

_MISSING_ANALYSIS_MSG = "Missing Analysis, can't run the constraint!"
_ASSERTION_EXCEPTION_MSG = "Can't execute the assertion"


class ConstraintStatus(Enum):
    SUCCESS = 0
    FAILURE = 1


class ConstraintAssertionException(Exception):
    pass


class Constraint(ABC):
    @abstractmethod
    def evaluate(
        self, analysis_result: Mapping[Analyzer, Metric]
    ) -> "ConstraintResult":
        ...


@dataclass
class ConstraintResult:
    constraint: Constraint
    status: ConstraintStatus
    message: Optional[str] = None
    metric: Optional[Metric] = None


class ConstraintDecorator(Constraint):
    def __init__(self, inner: Constraint):
        self._inner = inner

    @property
    def inner(self) -> Constraint:
        if isinstance(self._inner, ConstraintDecorator):
            return self._inner.inner
        return self._inner

    def evaluate(
        self, analysis_result: Mapping[Analyzer, Metric]
    ) -> "ConstraintResult":
        return replace(self._inner.evaluate(analysis_result), constraint=self)


class NamedConstraint(ConstraintDecorator):
    def __init__(self, constraint: Constraint, name: str):
        super().__init__(constraint)
        self.name = name
        self.constraint = constraint

    def __str__(self):
        return self.name

    def __eq__(self, other):
        return (
            isinstance(other, NamedConstraint)
            and self.constraint == other.constraint
            and self.name == other.name
        )

    def __hash__(self):
        return hash(self.constraint) ^ hash(self.name)

    def __repr__(self):
        return self.name


class AnalysisBasedConstraint(Constraint):
    """Looks up its analyzer's metric in the analysis result and runs
    the user assertion on the metric value
    (``hooqu/constraints/analysis_based_constraint.py:22-108``)."""

    def __init__(
        self,
        analyzer: Analyzer,
        assertion: Callable[[float], bool],
        hint: Optional[str] = None,
    ):
        self.analyzer = analyzer
        self._assertion = assertion
        self._hint = hint

    def calculate_and_evaluate(self, data) -> ConstraintResult:
        metric = self.analyzer.calculate(data)
        return self.evaluate({self.analyzer: metric})

    def evaluate(
        self, analysis_result: Mapping[Analyzer, Metric]
    ) -> ConstraintResult:
        metric = analysis_result.get(self.analyzer, None)
        if metric is None:
            return ConstraintResult(
                self, ConstraintStatus.FAILURE, _MISSING_ANALYSIS_MSG, metric
            )
        return self._pick_value_and_assert(metric)

    def _pick_value_and_assert(self, metric: Metric) -> ConstraintResult:
        metric_value = metric.value
        hint = self._hint or ""
        if isinstance(metric_value, Success):
            try:
                assert_on = metric_value.get()
                if self._run_assertion(assert_on):
                    return ConstraintResult(
                        self, ConstraintStatus.SUCCESS, metric=metric
                    )
                msg = (
                    f"Value {assert_on} does not meet the constraint "
                    f"requirement. {hint}"
                )
                return ConstraintResult(
                    self, ConstraintStatus.FAILURE, msg, metric
                )
            except ConstraintAssertionException as ex:
                return ConstraintResult(
                    self,
                    ConstraintStatus.FAILURE,
                    f"{_ASSERTION_EXCEPTION_MSG}: {str(ex)}",
                    metric,
                )
        e = metric_value.failed().get()
        return ConstraintResult(self, ConstraintStatus.FAILURE, str(e), metric)

    def _run_assertion(self, assert_on) -> bool:
        try:
            return self._assertion(assert_on)
        except Exception as e:
            raise ConstraintAssertionException(e) from e

    def __eq__(self, other):
        return (
            isinstance(other, AnalysisBasedConstraint)
            and self.analyzer == other.analyzer
            and self._assertion is other._assertion
            and self._hint == other._hint
        )

    def __hash__(self):
        return hash(self.analyzer) ^ hash(id(self._assertion))


# ---------------------------------------------------------------------------
# Constraint factories (reference: hooqu/constraints/constraints.py)
# ---------------------------------------------------------------------------

def size_constraint(
    assertion: Callable[[int], bool],
    where: Optional[str] = None,
    hint: Optional[str] = None,
) -> Constraint:
    if not callable(assertion):
        raise ValueError("assertion is not a callable")
    size = Size(where)
    return NamedConstraint(
        AnalysisBasedConstraint(size, assertion, hint=hint),
        f"SizeConstraint({size!r})",
    )


def quantile_constraint(
    column: str,
    quantile: float,
    assertion: Callable[[float], bool],
    where: Optional[str] = None,
    hint: Optional[str] = None,
) -> Constraint:
    quant = Quantile(column, quantile, where)
    return NamedConstraint(
        AnalysisBasedConstraint(quant, assertion, hint=hint),
        f"QuantileConstraint({quant!r})",
    )


def compliance_constraint(
    name: str,
    column: str,
    assertion: Callable[[float], bool],
    where: Optional[str] = None,
    hint: Optional[str] = None,
) -> Constraint:
    compliance = Compliance(name, column, where)
    return NamedConstraint(
        AnalysisBasedConstraint(compliance, assertion, hint=hint),
        f"ComplianceConstraint({compliance!r})",
    )


def _simple_column_constraint(analyzer_cls, label: str):
    """Factory-of-factories for the ``(column, assertion, where, hint)``
    constraints: the factory builds ``analyzer_cls(column, where)`` and
    names the constraint ``label(analyzer)``."""

    def factory(
        column: str,
        assertion: Callable[[float], bool],
        where: Optional[str] = None,
        hint: Optional[str] = None,
    ) -> Constraint:
        analyzer = analyzer_cls(column, where)
        return NamedConstraint(
            AnalysisBasedConstraint(analyzer, assertion, hint=hint),
            f"{label}({analyzer!r})",
        )

    return factory


min_constraint = _simple_column_constraint(Minimum, "MinimumConstraint")
max_constraint = _simple_column_constraint(Maximum, "MaximumConstraint")
completeness_constraint = _simple_column_constraint(
    Completeness, "CompletenessConstraint"
)
mean_constraint = _simple_column_constraint(Mean, "MeanConstraint")
sum_constraint = _simple_column_constraint(Sum, "SumConstraint")
standard_deviation_constraint = _simple_column_constraint(
    StandardDeviation, "StandardDeviationConstraint"
)
min_length_constraint = _simple_column_constraint(
    MinLength, "MinLengthConstraint"
)
max_length_constraint = _simple_column_constraint(
    MaxLength, "MaxLengthConstraint"
)
approx_count_distinct_constraint = _simple_column_constraint(
    ApproxCountDistinct, "ApproxCountDistinctConstraint"
)
data_type_constraint = _simple_column_constraint(
    DataTypeHistogram, "DataTypeConstraint"
)


def _grouping_constraint(analyzer_cls, label: str):
    """Same shape over a list of columns (``analyzer_cls(columns, where)``)."""

    def factory(
        columns: Sequence[str],
        assertion: Callable[[float], bool],
        where: Optional[str] = None,
        hint: Optional[str] = None,
    ) -> Constraint:
        analyzer = analyzer_cls(columns, where)
        return NamedConstraint(
            AnalysisBasedConstraint(analyzer, assertion, hint=hint),
            f"{label}({analyzer!r})",
        )

    return factory


uniqueness_constraint = _grouping_constraint(
    Uniqueness, "UniquenessConstraint"
)
distinctness_constraint = _grouping_constraint(
    Distinctness, "DistinctnessConstraint"
)
count_distinct_constraint = _grouping_constraint(
    CountDistinct, "CountDistinctConstraint"
)
unique_value_ratio_constraint = _grouping_constraint(
    UniqueValueRatio, "UniqueValueRatioConstraint"
)
entropy_constraint = _grouping_constraint(Entropy, "EntropyConstraint")
mutual_information_constraint = _grouping_constraint(
    MutualInformation, "MutualInformationConstraint"
)


def correlation_constraint(
    col_a: str,
    col_b: str,
    assertion: Callable[[float], bool],
    where: Optional[str] = None,
    hint: Optional[str] = None,
) -> Constraint:
    corr = Correlation(col_a, col_b, where)
    return NamedConstraint(
        AnalysisBasedConstraint(corr, assertion, hint=hint),
        f"CorrelationConstraint({corr!r})",
    )


def pattern_match_constraint(
    column: str,
    pattern: Union[str, Pattern],
    assertion: Callable[[float], bool],
    where: Optional[str] = None,
    name: Optional[str] = None,
    hint: Optional[str] = None,
) -> Constraint:
    pattern_match = PatternMatch(column, pattern, where)
    constraint = AnalysisBasedConstraint(pattern_match, assertion, hint=hint)
    cname = (
        f"PatternMatchConstraint({name})"
        if name
        else f"PatternMatchConstraint({column}, {pattern})"
    )
    return NamedConstraint(constraint, cname)
