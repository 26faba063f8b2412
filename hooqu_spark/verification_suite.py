"""VerificationSuite: collect checks -> run analyzers -> evaluate.

Driver-side port of ``hooqu/verification_suite.py``; the heavy lifting
(step 3 of the reference lifecycle) is delegated to
``do_analysis_run``, which fuses all required analyzers into a minimal
number of Spark jobs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Mapping, Optional, Sequence, Tuple

from pyspark.sql import DataFrame

from .analyzers import Analyzer
from .analyzers.runner import AnalyzerContext, do_analysis_run
from .checks import Check, CheckResult, CheckStatus
from .metrics import Metric


@dataclass
class VerificationResult:
    status: CheckStatus
    check_results: Mapping[Check, CheckResult]
    metrics: Mapping[Analyzer, Metric]


class VerificationRunBuilder:
    def __init__(self, data: DataFrame):
        self.data = data
        self._checks: List[Check] = []
        self._required_analyzers: Optional[Tuple[Analyzer, ...]] = None
        self._repository = None
        self._repository_tag: Optional[str] = None

    def add_check(self, check: Check) -> "VerificationRunBuilder":
        self._checks.append(check)
        return self

    def add_checks(self, checks: Sequence[Check]) -> "VerificationRunBuilder":
        self._checks.extend(checks)
        return self

    def add_required_analyzers(
        self, analyzers: Sequence[Analyzer]
    ) -> "VerificationRunBuilder":
        self._required_analyzers = tuple(analyzers)
        return self

    def use_repository(
        self, repository, tag: str = "default"
    ) -> "VerificationRunBuilder":
        """Append this run's metrics to a ``MetricsRepository`` under
        ``tag`` after evaluation (Deequ's ``useRepository()
        .saveOrAppendResult()``) — enabling regression tracking and
        anomaly checks over run history."""
        self._repository = repository
        self._repository_tag = tag
        return self

    def run(self) -> VerificationResult:
        result = VerificationSuite().do_verification_run(
            self.data, self._checks, self._required_analyzers
        )
        if self._repository is not None:
            self._repository.save(self._repository_tag, dict(result.metrics))
        return result


class VerificationSuite:
    def __init__(self):
        self._checks: List[Check] = []

    def add_check(self, check: Check) -> "VerificationSuite":
        self._checks.append(check)
        return self

    def add_checks(self, checks: Sequence[Check]) -> "VerificationSuite":
        self._checks.extend(checks)
        return self

    def on_data(self, data: DataFrame) -> VerificationRunBuilder:
        return VerificationRunBuilder(data)

    def run(self, data: DataFrame) -> VerificationResult:
        return self.do_verification_run(data, self._checks)

    def do_verification_run(
        self,
        data: DataFrame,
        checks: Sequence[Check],
        required_analyzers: Optional[Tuple[Analyzer, ...]] = None,
    ) -> VerificationResult:
        required_analyzers = required_analyzers or ()
        analyzers = tuple(required_analyzers) + tuple(
            a for check in checks for a in check.required_analyzers()
        )
        analysis_result = do_analysis_run(data, analyzers)
        return self.evaluate(checks, analysis_result)

    def evaluate(
        self, checks: Sequence[Check], analysis_context: AnalyzerContext
    ) -> VerificationResult:
        check_results = {c: c.evaluate(analysis_context) for c in checks}
        if not check_results:
            verification_status = CheckStatus.SUCCESS
        else:
            verification_status = max(
                cr.status for cr in check_results.values()
            )
        return VerificationResult(
            verification_status, check_results, analysis_context.metric_map
        )
