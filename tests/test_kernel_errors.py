"""How the callers of the fused-state kernel handle an analyzer it cannot
compute: an expression that cannot be built, a state that cannot be
sliced from the aggregate row, and a Spark job that fails while it runs.

The runner turns each into a Failure metric of that analyzer alone.
The callers that store or fold states (lineage, ``metrics_by_group``,
the profiler, streaming) raise on the first and the third, so nothing
is committed or folded without its states, and keep the second as an
empty (null) state.
"""

import pytest

from hooqu_spark.analyzers import (
    Compliance,
    Size,
    StandardDeviation,
    Uniqueness,
    do_analysis_run,
)
from hooqu_spark.lineage import compute_partition_states, metrics_by_group
from hooqu_spark.streaming import StreamingVerification, WindowedMetrics

# the predicate names a column the frame does not have
BROKEN = Compliance("nope", "nope > 1")
# plans fine, and its frequency job fails while it runs
LOST = Uniqueness(["g"], where="raise_error('frequency job lost') IS NULL")


@pytest.fixture
def df(spark):
    return spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "g string, v double"
    )


def test_runner_fails_only_the_unbuildable_analyzer(df):
    metrics = do_analysis_run(df, [Size(), BROKEN]).metric_map
    assert metrics[Size()].value.get() == 3.0
    assert metrics[BROKEN].value.isFailure
    assert "nope" in str(metrics[BROKEN].value.exception)


def test_storing_callers_raise_on_an_unbuildable_analyzer(spark, df, tmp_path):
    with pytest.raises(Exception, match="nope"):
        compute_partition_states(df, [Size(), BROKEN], "g")
    with pytest.raises(Exception, match="nope"):
        metrics_by_group(df, [Size(), BROKEN], "g")

    acc = StreamingVerification([Size(), BROKEN])
    with pytest.raises(Exception, match="nope"):
        acc.process_batch(df, 0)
    assert acc.batches_processed() == 0

    stream = spark.readStream.schema("ts timestamp, v double").parquet(str(tmp_path))
    for analyzers in ([BROKEN], [Size(), BROKEN]):
        wm = WindowedMetrics(analyzers, "ts", "10 minutes")
        with pytest.raises(Exception, match="nope"):
            wm.attach(stream)


def test_an_unsliceable_state_is_null_when_stored(df):
    # no row matches: StandardDeviation cannot make a state of zero rows
    empty = StandardDeviation("v", where="v > 100")
    metric = do_analysis_run(df, [empty]).metric(empty)
    assert metric.value.isFailure

    records = compute_partition_states(df, [Size(), empty], "g")
    assert sorted(r.bucket for r in records if r.state_json == "null") == ["a", "b"]
    assert all(m[empty].value.isFailure for m in metrics_by_group(df, [empty], "g").values())


def test_a_failed_frequency_job_raises_out_of_lineage(df):
    with pytest.raises(Exception, match="frequency job lost"):
        compute_partition_states(df, [Size(), LOST], "g")


def test_a_failed_frequency_job_fails_only_its_pair_in_the_runner(df):
    metrics = do_analysis_run(df, [Size(), Uniqueness(["v"]), LOST]).metric_map
    assert metrics[Size()].value.get() == 3.0
    assert metrics[Uniqueness(["v"])].value.get() == 1.0
    assert metrics[LOST].value.isFailure
    assert "frequency job lost" in str(metrics[LOST].value.exception)
