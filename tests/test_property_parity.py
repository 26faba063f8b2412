"""Randomized (seeded, deterministic) parity tests against pandas.

The reference property-tests every analyzer with Hypothesis-generated
pandas frames allowing NaN and +-inf (``hooqu/tests/test_analyzers.py``
via ``fixtures.py:113-136``).  ``hypothesis.extra.pandas`` frames feed
pandas, not Spark, so here the same distributional shape (floats with
NaN/inf, None nulls, short strings) is generated with seeded numpy and
every frame's analyzer metrics are compared against the pandas
reference kernels directly — one fused Spark job per frame.
"""

import math

import numpy as np
import pandas as pd
import pytest

from hooqu_spark.analyzers import (
    Completeness,
    Maximum,
    Mean,
    Minimum,
    Size,
    StandardDeviation,
    Sum,
    Uniqueness,
    do_analysis_run,
)


def random_frame(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    vals = rng.standard_normal(n) * rng.choice([1, 1e6, 1e-6])
    # inject NaN / +-inf / None like the reference strategy
    mask = rng.rand(n)
    vals = np.where(mask < 0.1, np.nan, vals)
    vals = np.where((mask >= 0.1) & (mask < 0.15), np.inf, vals)
    vals = np.where((mask >= 0.15) & (mask < 0.2), -np.inf, vals)
    att1 = [None if m > 0.9 else float(v) for v, m in zip(vals, mask)]
    strings = [
        None if rng.rand() > 0.8 else chr(97 + int(rng.rand() * 26)) * (i % 3 + 1)
        for i in range(n)
    ]
    return pd.DataFrame({"item": range(n), "att1": att1, "att2": strings})


SEEDS = [7, 23, 99, 1234, 5150]


@pytest.mark.parametrize("seed", SEEDS)
def test_fused_metrics_match_pandas_kernels(spark, seed):
    pdf = random_frame(seed, 60)
    df = spark.createDataFrame(pdf.astype({"att1": "float64"}))

    analyzers = [
        Size(),
        Completeness("att1"),
        Completeness("att2"),
        Minimum("att1"),
        Maximum("att1"),
        Sum("att1"),
        Mean("att1"),
        StandardDeviation("att1"),
    ]
    ctx = do_analysis_run(df, analyzers)
    got = {
        (m.name, m.instance): m for m in ctx.metric_map.values()
    }

    s = pdf["att1"]
    n_valid = s.count()  # pandas: NaN-skipping

    assert got[("Size", "*")].value.get() == len(pdf)
    assert got[("Completeness", "att1")].value.get() == pytest.approx(
        n_valid / len(pdf)
    )
    assert got[("Completeness", "att2")].value.get() == pytest.approx(
        pdf["att2"].count() / len(pdf)
    )

    def check(name, pandas_value):
        metric = got[(name, "att1")]
        if n_valid == 0:
            assert metric.value.isFailure or math.isnan(metric.value.get())
            return
        value = metric.value.get()
        if math.isnan(pandas_value):
            assert math.isnan(value)
        else:
            assert value == pytest.approx(pandas_value, rel=1e-9, abs=1e-12)

    check("Minimum", s.min())
    check("Maximum", s.max())
    check("Sum", s.sum())
    check("Mean", s.mean())
    check("StandardDeviation", s.std(ddof=0))


@pytest.mark.parametrize("seed", SEEDS[:3])
def test_uniqueness_matches_pandas(spark, seed):
    rng = np.random.RandomState(seed)
    vals = [
        None if rng.rand() > 0.85 else int(rng.randint(0, 20))
        for _ in range(80)
    ]
    pdf = pd.DataFrame({"v": vals})
    df = spark.createDataFrame(pdf.astype({"v": "float64"}))

    non_null = pdf["v"].dropna()
    if len(non_null) == 0:
        assert Uniqueness(["v"]).calculate(df).value.isFailure
        return
    counts = non_null.value_counts()
    expected = (counts == 1).sum() / len(non_null)
    got = Uniqueness(["v"]).calculate(df).value.get()
    assert got == pytest.approx(expected)


@pytest.mark.parametrize("seed", SEEDS[:3])
def test_state_merge_equals_whole(spark, seed):
    """metric(merge(partition states)) == metric(whole) on random data."""
    pdf = random_frame(seed, 90)
    df = spark.createDataFrame(pdf.astype({"att1": "float64"}))
    halves = [df.where(f"item % 3 = {i}") for i in range(3)]

    for analyzer in (Minimum("att1"), Maximum("att1"), Sum("att1"),
                     Mean("att1"), StandardDeviation("att1")):
        states = [analyzer.compute_state_from(h) for h in halves]
        states = [s for s in states if s is not None]
        whole = analyzer.calculate(df)
        if not states:
            assert whole.value.isFailure
            continue
        merged = states[0]
        for s in states[1:]:
            merged = merged.sum(s)
        whole_v = whole.value.get() if whole.value.isSuccess else float("nan")
        merged_v = merged.metric_value()
        if math.isnan(whole_v):
            assert math.isnan(merged_v)
        else:
            assert merged_v == pytest.approx(whole_v, rel=1e-9, abs=1e-12)


@pytest.mark.parametrize("seed", SEEDS[:3])
def test_frequency_states_merge_equals_whole(spark, seed):
    """Per-bucket frequency statistics merge to the whole-table metric
    when the bucket is a function of the grouping column."""
    from pyspark.sql import functions as F

    from hooqu_spark.analyzers import (
        CountDistinct,
        Distinctness,
        Entropy,
        Histogram,
        MutualInformation,
        UniqueValueRatio,
    )
    from hooqu_spark.lineage import (
        compute_partition_states,
        merge_states,
        metrics_from_states,
    )

    df = spark.createDataFrame(random_frame(seed, 90).astype({"att1": "float64"}))
    # all-NULL att2 rows form their own bucket, which has no frequencies
    df = df.withColumn(
        "bucket",
        F.when(F.col("att2").isNull(), F.lit(99)).otherwise(
            F.pmod(F.xxhash64("att2"), F.lit(4))
        ),
    )
    analyzers = [
        Size(),
        Uniqueness(["att2"]),
        Uniqueness(["att2"], where="att1 > 0"),
        Distinctness(["att2"]),
        CountDistinct(["att2"]),
        Entropy(["att2"]),
        UniqueValueRatio(["att2"]),
        Histogram("att2"),
    ]
    records = compute_partition_states(df, analyzers, "bucket")
    assert {r.bucket for r in records} == {
        str(r[0]) for r in df.select("bucket").distinct().collect()
    }
    merged = metrics_from_states(analyzers, merge_states(records))
    whole = do_analysis_run(df, analyzers)
    for a in analyzers:
        want = whole.metric(a).value
        if want.isFailure:
            assert merged[a].value.isFailure, repr(a)
        else:
            assert merged[a].value.get() == pytest.approx(want.get(), rel=1e-9), repr(a)

    with pytest.raises(ValueError):
        compute_partition_states(df, [MutualInformation(["att1", "att2"])], "bucket")


def _lineage_metrics(df, analyzers):
    from pyspark.sql import functions as F

    from hooqu_spark.lineage import (
        compute_partition_states,
        merge_states,
        metrics_from_states,
    )

    bucketed = df.withColumn("bucket", F.pmod(F.xxhash64("id"), F.lit(4)))
    records = compute_partition_states(bucketed, analyzers, "bucket")
    return metrics_from_states(analyzers, merge_states(records))


def _by_group_metrics(df, analyzers):
    from pyspark.sql import functions as F

    from hooqu_spark.lineage import metrics_by_group

    per_group = metrics_by_group(df.withColumn("g", F.lit(1)), analyzers, "g")
    assert list(per_group) == ["1"]
    return per_group["1"]


def _streaming_metrics(df, analyzers):
    from hooqu_spark.streaming import StreamingVerification

    acc = StreamingVerification(analyzers)
    acc.process_batch(df.where("item % 2 = 0"), 0)
    acc.process_batch(df.where("item % 2 = 1"), 1)
    return acc.current_metrics()


@pytest.mark.parametrize("seed", SEEDS[:2])
@pytest.mark.parametrize(
    "caller, frequency_allowed",
    [
        (_lineage_metrics, True),
        (_by_group_metrics, True),
        (_streaming_metrics, False),
    ],
    ids=["lineage", "metrics_by_group", "streaming"],
)
def test_callers_agree_with_the_runner(spark, seed, caller, frequency_allowed):
    """Every caller of the fused-state kernel yields the runner's
    metrics on the same frame."""
    from pyspark.sql import functions as F

    from hooqu_spark.analyzers import Compliance

    pdf = random_frame(seed, 90)
    df = spark.createDataFrame(pdf.astype({"att1": "float64"})).withColumn(
        "id", F.col("item") % 37
    )
    analyzers = [
        Size(),
        Completeness("att1"),
        Completeness("att2"),
        Minimum("att1"),
        Maximum("att1"),
        Sum("att1"),
        Mean("att1"),
        StandardDeviation("att1"),
        Compliance("positive", "att1 > 0", where="att2 is not null"),
    ]
    if frequency_allowed:
        analyzers.append(Uniqueness(["id"]))

    want = do_analysis_run(df, analyzers)
    got = caller(df, analyzers)
    for a in analyzers:
        w, g = want.metric(a).value, got[a].value
        assert g.isFailure == w.isFailure, repr(a)
        if w.isFailure:
            continue
        if math.isnan(w.get()):
            assert math.isnan(g.get()), repr(a)
        else:
            assert g.get() == pytest.approx(w.get(), rel=1e-9, abs=1e-12), repr(a)
