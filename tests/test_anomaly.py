"""Anomaly-detection strategies + repository-backed anomaly checks."""

import math

import pytest

from hooqu_spark import (
    AbsoluteChangeStrategy,
    AnomalyCheck,
    Check,
    CheckLevel,
    CheckStatus,
    MeanDeviationStrategy,
    MetricsRepository,
    RelativeRateOfChangeStrategy,
    SimpleThresholdStrategy,
    run_with_anomaly_checks,
)
from hooqu_spark.analyzers import Mean, Size


class TestStrategies:
    def test_simple_threshold(self):
        s = SimpleThresholdStrategy(lower_bound=0.0, upper_bound=10.0)
        assert not s.detect([], 5.0).is_anomaly
        assert s.detect([], -1.0).is_anomaly
        assert s.detect([1.0, 2.0], 11.0).is_anomaly

    def test_absolute_change(self):
        s = AbsoluteChangeStrategy(max_decrease=-2.0, max_increase=3.0)
        assert not s.detect([], 100.0).is_anomaly  # first value accepted
        assert not s.detect([10.0], 12.0).is_anomaly
        assert s.detect([10.0], 14.0).is_anomaly
        assert s.detect([10.0], 7.0).is_anomaly
        assert not s.detect([10.0], 8.0).is_anomaly

    def test_relative_rate_of_change(self):
        s = RelativeRateOfChangeStrategy(
            max_rate_decrease=0.5, max_rate_increase=2.0
        )
        assert not s.detect([100.0], 150.0).is_anomaly
        assert s.detect([100.0], 250.0).is_anomaly
        assert s.detect([100.0], 40.0).is_anomaly
        assert s.detect([0.0], 5.0).is_anomaly  # inf rate
        assert not s.detect([0.0], 0.0).is_anomaly

    def test_mean_deviation(self):
        s = MeanDeviationStrategy(k=2.0, min_history=3)
        history = [10.0, 10.5, 9.5, 10.0]
        assert not s.detect(history, 10.2).is_anomaly
        assert s.detect(history, 20.0).is_anomaly
        # too little history -> accepted
        assert not s.detect([10.0], 1000.0).is_anomaly

    def test_mean_deviation_ignores_nan_history(self):
        s = MeanDeviationStrategy(k=2.0, min_history=2)
        assert s.detect([10.0, float("nan"), 10.0, 10.0], 50.0).is_anomaly


class TestRunWithAnomalyChecks:
    def test_history_growth_and_detection(self, spark, tmp_path):
        repo = MetricsRepository(str(tmp_path))
        df_small = spark.range(100).toDF("v")
        df_big = spark.range(1000).toDF("v")

        ac = AnomalyCheck(
            Size(),
            RelativeRateOfChangeStrategy(
                max_rate_decrease=0.5, max_rate_increase=2.0
            ),
            level=CheckLevel.ERROR,
        )
        # run 1: no history -> accepted, metrics saved
        r1 = run_with_anomaly_checks(df_small, [], [ac], repo, tag="t")
        assert r1.status == CheckStatus.SUCCESS
        # run 2: 10x size jump -> anomaly at ERROR level
        r2 = run_with_anomaly_checks(df_big, [], [ac], repo, tag="t")
        assert r2.status == CheckStatus.ERROR
        # run 3: stable vs run 2 -> accepted again
        r3 = run_with_anomaly_checks(df_big, [], [ac], repo, tag="t")
        assert r3.status == CheckStatus.SUCCESS
        # three runs were persisted
        assert len(repo.diff("t", "Size", "*")) == 3

    def test_tag_is_not_a_file_name_prefix(self, spark, tmp_path):
        from hooqu_spark.metrics import DoubleMetric, Entity, Success

        def size(n):
            return {Size(): DoubleMetric(Entity.DATASET, "Size", "*", Success(n))}

        repo = MetricsRepository(str(tmp_path))
        repo.save("a", size(10.0))
        repo.save("a_b", size(99.0))
        repo.save("a_b", size(98.0))
        assert repo.latest("a")["value"].tolist() == [10.0]
        assert repo.load("a")["tag"].unique().tolist() == ["a"]
        assert repo.diff("a", "Size", "*")["value"].tolist() == [10.0]
        assert repo.diff("a_b", "Size", "*")["value"].tolist() == [99.0, 98.0]
        assert len(repo.load()) == 3

    def test_combines_with_regular_checks(self, spark, tmp_path):
        repo = MetricsRepository(str(tmp_path))
        df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
        check = Check(CheckLevel.ERROR, "basic").has_mean(
            "v", lambda m: m == 2.0
        )
        ac = AnomalyCheck(Mean("v"), SimpleThresholdStrategy(0.0, 10.0))
        result = run_with_anomaly_checks(df, [check], [ac], repo, tag="m")
        assert result.status == CheckStatus.SUCCESS
        assert len(result.check_results) == 2

    def test_warning_level_anomaly(self, spark, tmp_path):
        repo = MetricsRepository(str(tmp_path))
        df = spark.createDataFrame([(100.0,)], "v double")
        ac = AnomalyCheck(
            Mean("v"),
            SimpleThresholdStrategy(upper_bound=1.0),
            level=CheckLevel.WARNING,
        )
        result = run_with_anomaly_checks(df, [], [ac], repo, tag="w")
        assert result.status == CheckStatus.WARNING

    def test_use_repository_on_run_builder(self, spark, tmp_path):
        from hooqu_spark import VerificationSuite

        repo = MetricsRepository(str(tmp_path))
        df = spark.createDataFrame([(1.0,), (3.0,)], "v double")
        check = Check(CheckLevel.ERROR, "r").has_mean("v", lambda m: m == 2.0)
        for _ in range(2):
            result = (
                VerificationSuite()
                .on_data(df)
                .add_check(check)
                .use_repository(repo, tag="series")
                .run()
            )
            assert result.status == CheckStatus.SUCCESS
        series = repo.diff("series", "Mean", "v")
        assert series["value"].tolist() == [2.0, 2.0]
        assert series["seq"].tolist() == [0, 1]

    def test_failed_metric_is_failure(self, spark, tmp_path):
        repo = MetricsRepository(str(tmp_path))
        df = spark.createDataFrame([("a",)], "v string")
        ac = AnomalyCheck(
            Mean("v"), SimpleThresholdStrategy(0, 1), level=CheckLevel.ERROR
        )
        result = run_with_anomaly_checks(df, [], [ac], repo, tag="f")
        assert result.status == CheckStatus.ERROR


class TestHoltWinters:
    def _series(self, n_weeks=6):
        # weekly seasonality (low weekends) + slow upward trend
        base = [100, 105, 104, 103, 106, 60, 55]
        out = []
        for w in range(n_weeks):
            for d, v in enumerate(base):
                out.append(v + 2.0 * w)
        return out

    def test_seasonal_dip_not_flagged(self):
        from hooqu_spark.anomaly import HoltWintersStrategy

        # cut history so the NEXT point lands on the weekly dip (index
        # 40 -> day 5 of week 5): a seasonal low, NOT an anomaly
        hist = self._series()[:40]
        s = HoltWintersStrategy(season_length=7)
        nxt = 60 + 2.0 * 5
        verdict = s.detect(hist, nxt)
        assert not verdict.is_anomaly, verdict.detail
        # a mean-deviation strategy WOULD flag the same dip
        from hooqu_spark.anomaly import MeanDeviationStrategy

        assert MeanDeviationStrategy(k=1.0).detect(hist, nxt).is_anomaly

    def test_level_spike_flagged(self):
        from hooqu_spark.anomaly import HoltWintersStrategy

        hist = self._series()
        s = HoltWintersStrategy(season_length=7)
        verdict = s.detect(hist, 160.0)  # weekday spike far off forecast
        assert verdict.is_anomaly, verdict.detail

    def test_accepts_until_two_seasons(self):
        from hooqu_spark.anomaly import HoltWintersStrategy

        s = HoltWintersStrategy(season_length=7)
        verdict = s.detect([1.0] * 10, 999.0)
        assert not verdict.is_anomaly
        assert "accepted" in verdict.detail

    def test_trend_continuation_accepted(self):
        from hooqu_spark.anomaly import HoltWintersStrategy

        hist = [float(i) for i in range(40)]  # pure linear growth
        s = HoltWintersStrategy(season_length=5)
        assert not s.detect(hist, 40.0).is_anomaly
        assert s.detect(hist, 80.0).is_anomaly
