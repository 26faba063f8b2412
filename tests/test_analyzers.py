"""Port of hooqu/tests/test_analyzers.py to Spark.

Hypothesis pandas strategies are replaced by deterministic edge-case
frames (empty / all-null / NaN+inf) exercising the same boundary
behavior the property tests asserted.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import hooqu_spark.patterns as hpatterns
from hooqu_spark.analyzers import (
    Completeness,
    Compliance,
    Maximum,
    Mean,
    Minimum,
    PatternMatch,
    Quantile,
    Size,
    StandardDeviation,
    Sum,
)
from hooqu_spark.metrics import DoubleMetric, Entity, Failure, Success


class TestSizeAnalyzer:
    @pytest.mark.parametrize("fixture", ["df_missing", "df_full", "df_empty"])
    def test_computes_correct_metrics(self, fixture, request):
        data = request.getfixturevalue(fixture)
        a = Size()
        metric = a.calculate(data)
        assert metric == DoubleMetric(
            Entity.DATASET, "Size", "*", Success(float(data.count()))
        )


class TestBasicStatisticsAnalyzers:
    def test_computes_minimum_value_correctly(self, df_with_numeric_values):
        value = Minimum("att1").calculate(df_with_numeric_values).value
        assert value == Success(1.0)

    def test_minimum_on_empty_is_nan(self, df_empty):
        value = Minimum("item").calculate(df_empty).value
        assert value.isSuccess
        assert math.isnan(value.get())

    def test_minimum_skips_nan_keeps_inf(self, df_with_nan_inf):
        value = Minimum("att2").calculate(df_with_nan_inf).value
        assert value == Success(float("-inf"))

    def test_minimum_all_null_is_nan(self, df_all_null_numeric):
        value = Minimum("item").calculate(df_all_null_numeric).value
        assert value.isSuccess and math.isnan(value.get())

    def test_fail_to_compute_minimum_no_numeric(self, df_missing):
        value = Minimum("att1").calculate(df_missing).value
        assert isinstance(value, Failure)

    def test_computes_minimum_value_with_predicate_correctly(
        self, df_with_numeric_values
    ):
        value = (
            Minimum("att1", where="item != '6'")
            .calculate(df_with_numeric_values)
            .value
        )
        assert value == Success(1.0)

    def test_computes_maximum_value_correctly(self, df_with_numeric_values):
        value = Maximum("att1").calculate(df_with_numeric_values).value
        assert value == Success(6.0)

    def test_maximum_skips_nan_keeps_inf(self, df_with_nan_inf):
        value = Maximum("att2").calculate(df_with_nan_inf).value
        assert value == Success(float("inf"))

    def test_computes_max_value_with_predicate_correctly(
        self, df_with_numeric_values
    ):
        value = (
            Maximum("att1", where="item != '6'")
            .calculate(df_with_numeric_values)
            .value
        )
        assert value == Success(5.0)

    def test_fail_to_compute_maximum_no_numeric(self, df_missing):
        value = Maximum("att1").calculate(df_missing).value
        assert isinstance(value, Failure)

    def test_computes_mean_correctly_for_numeric_data(self, df_with_numeric_values):
        value = Mean("att1").calculate(df_with_numeric_values).value
        assert value == Success(3.5)

    def test_mean_on_empty_is_nan(self, df_empty):
        value = Mean("att2").calculate(df_empty).value
        assert value.isSuccess and math.isnan(value.get())

    def test_mean_skips_nan(self, df_with_nan_inf):
        # pandas mean over [1, NaN, -inf, inf, 2] skips NaN ->
        # (1 - inf + inf + 2)/4 = NaN (inf cancellation), matching pandas
        value = Mean("att2").calculate(df_with_nan_inf).value
        assert value.isSuccess and math.isnan(value.get())

    def test_fail_to_compute_mean_no_numeric(self, df_missing):
        value = Mean("att1").calculate(df_missing).value
        assert isinstance(value, Failure)

    def test_computes_mean_value_with_predicate_correctly(
        self, df_with_numeric_values
    ):
        value = (
            Mean("att1", where="item != '6'")
            .calculate(df_with_numeric_values)
            .value
        )
        assert value == Success(3.0)

    def test_computes_std_correctly_for_numeric_data(self, df_with_numeric_values):
        value = StandardDeviation("att1").calculate(df_with_numeric_values).value
        assert value == Success(1.707825127659933)

    def test_std_on_empty_fails(self, df_empty):
        value = StandardDeviation("item").calculate(df_empty).value
        assert isinstance(value, Failure)

    def test_std_on_all_null_fails(self, df_all_null_numeric):
        value = StandardDeviation("item").calculate(df_all_null_numeric).value
        assert isinstance(value, Failure)

    def test_std_with_inf_is_inf(self, spark):
        # reference example: [(0, 0.0, 0.0), (1, 0.0, inf)] -> std(att2)=inf
        df = spark.createDataFrame(
            [(0, 0.0, 0.0), (1, 0.0, float("inf"))],
            "item long, att1 double, att2 double",
        )
        value = StandardDeviation("att2").calculate(df).value
        assert value == Success(float("inf"))

    def test_std_with_huge_values(self, spark):
        # reference example: two copies of 8.988466e307 — the sum
        # overflows DBL_MAX so avg=inf, and metric_value returns inf
        # when avg is inf (standard_deviation.py:29-31)
        df = spark.createDataFrame(
            [(0, 0.0, 8.988466e307), (1, 0.0, 8.988466e307)],
            "item long, att1 double, att2 double",
        )
        value = StandardDeviation("att2").calculate(df).value
        assert value == Success(float("inf"))

    def test_fail_to_compute_std_no_numeric(self, df_missing):
        value = StandardDeviation("att1").calculate(df_missing).value
        assert isinstance(value, Failure)

    def test_computes_std_value_with_predicate_correctly(
        self, df_with_numeric_values
    ):
        value = (
            StandardDeviation("att1", where="item != '6'")
            .calculate(df_with_numeric_values)
            .value
        )
        assert value == Success(1.4142135623730951)

    def test_computes_sum_correctly_for_numeric_data(self, df_with_numeric_values):
        value = Sum("att1").calculate(df_with_numeric_values).value
        assert value == Success(21.0)

    def test_sum_on_empty_is_zero(self, df_empty):
        # pandas: sum of an empty / all-NaN series is 0.0
        value = Sum("att2").calculate(df_empty).value
        assert value == Success(0.0)

    def test_sum_all_null_is_zero(self, df_all_null_numeric):
        value = Sum("item").calculate(df_all_null_numeric).value
        assert value == Success(0.0)

    def test_fail_to_compute_sum_no_numeric(self, df_missing):
        value = Sum("att1").calculate(df_missing).value
        assert isinstance(value, Failure)

    def test_computes_sum_value_with_predicate_correctly(
        self, df_with_numeric_values
    ):
        value = (
            Sum("att1", where="item != '6'")
            .calculate(df_with_numeric_values)
            .value
        )
        assert value == Success(15.0)


class TestCompletenessAnalyzer:
    def test_computes_correct_metrics(self, df_missing):
        assert len(Completeness("some_missing_column").preconditions()) == 1

        assert Completeness("att1").calculate(df_missing) == DoubleMetric(
            Entity.COLUMN, "Completeness", "att1", Success(0.5)
        )
        assert Completeness("att2").calculate(df_missing) == DoubleMetric(
            Entity.COLUMN, "Completeness", "att2", Success(0.75)
        )

    def test_fails_on_wrong_input(self, df_missing):
        metric = Completeness("some_missing_column").calculate(df_missing)
        assert metric.entity == Entity.COLUMN
        assert metric.name == "Completeness"
        assert metric.instance == "some_missing_column"
        assert metric.value.isFailure

    def test_works_with_filtering(self, df_missing):
        result = Completeness("att1", "item==1 or item==2").calculate(df_missing)
        assert result == DoubleMetric(
            Entity.COLUMN, "Completeness", "att1", Success(1.0)
        )

    def test_nan_counts_as_missing(self, df_with_nan_inf):
        # pandas parity: NaN is missing; 4/5 non-NaN in att2
        result = Completeness("att2").calculate(df_with_nan_inf)
        assert result.value == Success(0.8)


class TestQuantileAnalyzer:
    @pytest.mark.parametrize("q", [-0.1, 1.1, 100])
    def test_fail_for_invalid_values_of_q(self, df_with_numeric_values, q):
        value = Quantile("att1", quantile=q).calculate(df_with_numeric_values).value
        assert value.isFailure
        ex = value.failed().get()
        assert "percentiles should all be in the interval [0, 1]" in str(ex)

    @pytest.mark.parametrize(
        "q, expected", [(0.5, 0.0), (0.25, -500.0), (0.75, 500.0)]
    )
    def test_correctly_computes_quantile(self, spark, q, expected):
        df = spark.createDataFrame(
            [(float(i),) for i in range(-1000, 1001)], "att1 double"
        )
        result = Quantile("att1", q).calculate(df).value.get()
        assert result == expected

    @pytest.mark.parametrize(
        "q, expected", [(0.1, 1.0), (0.5, 3.0), (0.9, 5.0)]
    )
    def test_nearest_interpolation(self, df_with_numeric_values, q, expected):
        # pandas interpolation='nearest' with banker's rounding at ties
        result = Quantile("att1", q).calculate(df_with_numeric_values).value.get()
        assert result == expected

    def test_returns_a_data_value_when_no_double_hits_the_rank(self, spark):
        # n-1 = 47, k = 12: no double q makes q*47 exactly 12, so an
        # interpolating percentile returned 72.36999999999988
        df = spark.createDataFrame(
            [(0.0,)] * 12 + [(72.37,)] * 36, "att1 double"
        )
        want = pd.Series([0.0] * 12 + [72.37] * 36).quantile(
            0.25, interpolation="nearest"
        )
        assert want == 72.37
        assert Quantile("att1", 0.25).calculate(df).value.get() == want

    def test_fused_quantiles_match_pandas_nearest(self, spark):
        # the runner's fused phase 2 (one percentile_disc per column and
        # where) with NaN and where-gated rows left out, as pandas does
        from hooqu_spark.analyzers.runner import do_analysis_run

        rng = np.random.RandomState(5)
        vals = np.round(rng.standard_normal(101) * 100, 2).tolist()
        rows = [(v, i % 3) for i, v in enumerate(vals)] + [(float("nan"), 0)]
        df = spark.createDataFrame(rows, "att1 double, g long")
        qs = [0.0, 0.1, 0.25, 0.5, 0.9, 0.99, 1.0]
        analyzers = [Quantile("att1", q) for q in qs] + [
            Quantile("att1", q, where="g = 1") for q in qs
        ]
        ctx = do_analysis_run(df, analyzers)
        s = pd.Series(vals)
        gated = pd.Series([v for i, v in enumerate(vals) if i % 3 == 1])
        for q in qs:
            got = ctx.metric(Quantile("att1", q)).value.get()
            assert got == s.quantile(q, interpolation="nearest"), q
            got = ctx.metric(Quantile("att1", q, where="g = 1")).value.get()
            assert got == gated.quantile(q, interpolation="nearest"), q



class TestApproxQuantiles:
    """The sketch quantiles against numpy's exact (linear) quantile on a
    column with NULLs and NaNs, which both leave out.  Tolerances are in
    ranks: the distance from numpy's fractional index ``q * (n - 1)`` to
    the rank the returned value interpolates to in the sorted data."""

    @pytest.fixture
    def column(self, spark):
        rng = np.random.RandomState(11)
        vals = (rng.standard_normal(900) * 100).tolist()
        rows = [(i, v) for i, v in enumerate(vals)]
        rows += [(900 + i, None) for i in range(30)]
        rows += [(930 + i, float("nan")) for i in range(30)]
        df = spark.createDataFrame(rows, "id long, att1 double")
        return df, np.sort(np.array(vals))

    @staticmethod
    def rank_error(sorted_vals, got, q):
        rank = np.interp(got, sorted_vals, np.arange(len(sorted_vals)))
        return abs(rank - q * (len(sorted_vals) - 1))

    def test_sketches_match_numpy_quantile(self, column):
        from hooqu_spark.analyzers import (
            ApproxQuantile,
            QuantileSketch,
            do_analysis_run,
        )
        from hooqu_spark.lineage import (
            compute_partition_states,
            merge_states,
            metrics_from_states,
        )

        df, vals = column
        exact = np.quantile(vals, 0.5)
        approx, sketch = ApproxQuantile("att1", 0.5), QuantileSketch("att1", 0.5)
        ctx = do_analysis_run(df, [approx, sketch])
        # percentile_approx returns a data value; at accuracy 10000 its
        # rank is within n / 10000 of the target: one rank at most
        got = ctx.metric(approx).value.get()
        assert self.rank_error(vals, got, 0.5) <= 1
        # q = 0.5 is grid point 50 of 101: Spark's exact percentile, no
        # rank error
        assert ctx.metric(sketch).value.get() == pytest.approx(exact)

        # three per-partition states merged: each merge re-grids the
        # pooled anchors, so the error is a grid step (n / 100 ranks)
        records = compute_partition_states(
            df.withColumn("b", (F.col("id") % 3).cast("string")), [sketch], "b"
        )
        assert len(records) == 3
        merged = metrics_from_states([sketch], merge_states(records))[sketch]
        assert self.rank_error(vals, merged.value.get(), 0.5) <= len(vals) / 100

class TestComplianceAnalyzer:
    def test_compute_correct_metrics(self, df_with_numeric_values):
        df = df_with_numeric_values
        assert Compliance("rule1", "att1 > 3").calculate(df) == DoubleMetric(
            Entity.COLUMN, "Compliance", "rule1", Success(3.0 / 6.0)
        )
        assert Compliance("rule2", "att1 > 2").calculate(df) == DoubleMetric(
            Entity.COLUMN, "Compliance", "rule2", Success(4.0 / 6.0)
        )

    def test_compute_correct_metric_with_filtering(self, df_with_numeric_values):
        result = Compliance("rule1", "att2 == 0", "att1 < 4").calculate(
            df_with_numeric_values
        )
        assert result == DoubleMetric(
            Entity.COLUMN, "Compliance", "rule1", Success(1.0)
        )

    def test_fail_on_wrong_column_input(self, df_with_numeric_values):
        result = Compliance("rule1", "attNoSuchColumn > 0").calculate(
            df_with_numeric_values
        )
        assert result.value.isFailure


class TestPatternMatchAnalyzer:
    def test_computes_correct_metrics(self, spark):
        df = spark.createDataFrame(
            [("miguel",), ("benjamin",), ("miguelito",)], "col string"
        )
        assert PatternMatch("col", r"^miguel").calculate(df) == DoubleMetric(
            entity=Entity.COLUMN,
            name="PatternMatch",
            instance="col",
            value=Success(0.6666666666666666),
        )

    def test_not_match_doubles_in_nullable_column(self, spark):
        df = spark.createDataFrame(
            [(1.1,), (None,), (3.2,), (4.4,)], "some double"
        )
        result = PatternMatch("some", r"\d\.\d").calculate(df)
        assert result.value.isFailure

    def test_null_values_count_in_denominator(self, spark):
        df = spark.createDataFrame(
            [("x1",), (None,), ("x2",), ("nope",)], "some string"
        )
        result = PatternMatch("some", r"^x").calculate(df)
        assert result.value == Success(0.5)

    def test_match_email_addresses(self, spark):
        df = spark.createDataFrame(
            [("someone@somewhere.org",), ("someone@else",)], "some string"
        )
        assert PatternMatch("some", hpatterns.EMAIL).calculate(df).value == Success(
            0.5
        )

    def test_match_credit_card_numbers(self, spark):
        maybe_cc_numbers = [
            "378282246310005",  # AMEX
            "6011111111111117",  # Discover
            "6011 1111 1111 1117",  # Discover spaced
            "6011-1111-1111-1117",  # Discover dashed
            "5555555555554444",  # MasterCard
            "5555 5555 5555 4444",  # MasterCard spaced
            "5555-5555-5555-4444",  # MasterCard dashed
            "4111111111111111",  # Visa
            "4111 1111 1111 1111",  # Visa spaced
            "4111-1111-1111-1111",  # Visa dashed
            "0000111122223333",  # not really a CC number
            "000011112222333",  # not really a CC number
            "00001111222233",  # not really a CC number
        ]
        df = spark.createDataFrame([(s,) for s in maybe_cc_numbers], "some string")
        result = PatternMatch("some", hpatterns.CREDITCARD).calculate(df)
        assert result.value == Success(10.0 / 13.0)

    def test_match_urls(self, spark):
        maybe_urls = [
            "http://foo.com/blah_blah",
            "http://foo.com/blah_blah_(wikipedia)",
            "http://foo.bar/?q=Test%20URL-encoded%20stuff",
            "http://\u27a1.ws/\u4a39",
            "http://\u2318.ws/",
            "http://\u263a.damowmow.com/",
            "http://\u4f8b\u5b50.\u6d4b\u8bd5",
            "https://foo_bar.example.com/",
            "http://userid@example.com:8080",
            "http://foo.com/blah_(wikipedia)#cite-1",
            "http://../",  # not really a valid URL
            "h://test",  # not really a valid URL
            "http://.www.foo.bar/",  # not really a valid URL
        ]
        df = spark.createDataFrame([(s,) for s in maybe_urls], "some string")
        result = PatternMatch("some", hpatterns.URL).calculate(df)
        assert result.value == Success(10 / 13.0)

    def test_java_dialect_fast_path(self, spark):
        df = spark.createDataFrame(
            [("miguel",), ("benjamin",), ("miguelito",), (None,)], "col string"
        )
        result = PatternMatch("col", r"^miguel", dialect="java").calculate(df)
        assert result.value == Success(0.5)
