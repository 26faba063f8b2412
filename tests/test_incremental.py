"""Incremental metric computation across dataset deltas — the
reference's stubbed aggregate_with contract made real."""

import pytest

from hooqu_spark.analyzers import (
    Completeness,
    Maximum,
    Mean,
    Minimum,
    Size,
    StandardDeviation,
    Uniqueness,
    do_analysis_run,
)
from hooqu_spark.lineage import StateRecord, StateRepository, incremental_metrics
from hooqu_spark.sources import ParquetBatchSource, ingest_snapshots


def test_three_daily_ingests_equal_full_scan(spark, tmp_path):
    repo = StateRepository(str(tmp_path))
    analyzers = [
        Size(),
        Minimum("v"),
        Maximum("v"),
        Mean("v"),
        StandardDeviation("v"),
        Completeness("v"),
    ]

    def batch(day, n, offset):
        rows = [
            (day, offset + i, float(offset + i) if i % 7 else None)
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "day string, id long, v double")

    b1 = batch("d1", 100, 0)
    b2 = batch("d2", 80, 1000)
    b3 = batch("d3", 120, 5000)

    m1 = incremental_metrics(repo, "run", analyzers, b1, "day")
    m2 = incremental_metrics(repo, "run", analyzers, b2, "day")
    m3 = incremental_metrics(repo, "run", analyzers, b3, "day")

    # monotone growth visible after each ingest
    size_by_step = [m[analyzers[0]].value.get() for m in (m1, m2, m3)]
    assert size_by_step == [100.0, 180.0, 300.0]

    # final incremental metrics == one full scan over all three batches
    full = b1.unionByName(b2).unionByName(b3)
    direct = do_analysis_run(full, analyzers)
    for a in analyzers:
        want = direct.metric(a).value.get()
        got = m3[a].value.get()
        assert got == pytest.approx(want, rel=1e-12), a.name


def test_reingested_delta_is_idempotent(spark, tmp_path):
    # a retried/duplicate ingest of an already-committed bucket must NOT
    # double-count into the merged metrics
    repo = StateRepository(str(tmp_path))
    analyzers = [Size(), Mean("v")]
    b1 = spark.createDataFrame(
        [("d1", float(i)) for i in range(50)], "day string, v double"
    )
    first = incremental_metrics(repo, "r", analyzers, b1, "day")
    again = incremental_metrics(repo, "r", analyzers, b1, "day")  # retry
    assert first[analyzers[0]].value.get() == 50.0
    assert again[analyzers[0]].value.get() == 50.0
    assert again[analyzers[1]].value.get() == first[analyzers[1]].value.get()

    # a mixed delta (one committed bucket, one new) folds in only the new
    mixed = b1.unionByName(
        spark.createDataFrame(
            [("d2", float(100 + i)) for i in range(10)],
            "day string, v double",
        )
    )
    m = incremental_metrics(repo, "r", analyzers, mixed, "day")
    assert m[analyzers[0]].value.get() == 60.0


def test_restart_resumes_from_commit_log(spark, tmp_path):
    repo = StateRepository(str(tmp_path))
    analyzers = [Size(), Mean("v")]
    b1 = spark.createDataFrame(
        [("d1", float(i)) for i in range(50)], "day string, v double"
    )
    incremental_metrics(repo, "r", analyzers, b1, "day")

    # a "new process" with a fresh repository object sees the history
    repo2 = StateRepository(str(tmp_path))
    assert repo2.committed_buckets("r") == ["d1"]
    b2 = spark.createDataFrame(
        [("d2", float(100 + i)) for i in range(50)], "day string, v double"
    )
    metrics = incremental_metrics(repo2, "r", analyzers, b2, "day")
    assert metrics[analyzers[0]].value.get() == 100.0
    expected_mean = (sum(range(50)) + sum(range(100, 150))) / 100
    assert metrics[analyzers[1]].value.get() == pytest.approx(expected_mean)


def test_null_bucket_is_one_bucket_ingested_exactly_once(spark, tmp_path):
    # NULL bucket ids form ONE bucket (stringified "None" in the state
    # log): ingested on the first delta that carries them, skipped on
    # every later delta — the same idempotent ingest-unless-committed
    # policy as real buckets.  A bare `~isin` filter would be NULL for
    # these rows and silently drop them even when never committed; an
    # unconditional keep would double-count them on a RETRIED delta.
    repo = StateRepository(str(tmp_path))
    analyzers = [Size(), Mean("v")]
    b1 = spark.createDataFrame(
        [("d1", 1.0), (None, 2.0)], "day string, v double"
    )
    first = incremental_metrics(repo, "r", analyzers, b1, "day")
    assert first[analyzers[0]].value.get() == 2.0
    # retried delta: nothing double-counts (incl. the NULL bucket)
    retry = incremental_metrics(repo, "r", analyzers, b1, "day")
    assert retry[analyzers[0]].value.get() == 2.0
    # later delta: new bucket folds in, NULL bucket already committed
    b2 = spark.createDataFrame(
        [("d2", 3.0), (None, 4.0)], "day string, v double"
    )
    second = incremental_metrics(repo, "r", analyzers, b2, "day")
    assert second[analyzers[0]].value.get() == 3.0
    assert second[analyzers[1]].value.get() == pytest.approx(2.0)


def test_boolean_bucket_retry_is_idempotent(spark, tmp_path):
    # bucket markers are SPARK-cast strings ('true'/'false'), matching
    # the executor-side skip filter — a Python str() marker ('True')
    # would never match and retried deltas would double-count
    repo = StateRepository(str(tmp_path))
    analyzers = [Size()]
    b1 = spark.createDataFrame(
        [(True, 1.0), (False, 2.0)], "flag boolean, v double"
    )
    first = incremental_metrics(repo, "r", analyzers, b1, "flag")
    again = incremental_metrics(repo, "r", analyzers, b1, "flag")
    assert first[analyzers[0]].value.get() == 2.0
    assert again[analyzers[0]].value.get() == 2.0


def test_frequency_analyzers_are_rejected(spark, tmp_path):
    # Buckets are ingest batches, not a hash of the grouping columns, so
    # per-batch frequency statistics do not merge: Uniqueness(id) over
    # days {1, 2} and {1, 3} would merge to 1.0 instead of 0.5.
    repo = StateRepository(str(tmp_path / "states"))
    d1 = spark.createDataFrame([("d1", 1), ("d1", 2)], "day string, id long")
    with pytest.raises(ValueError, match="scan-shareable"):
        incremental_metrics(repo, "run", [Size(), Uniqueness(["id"])], d1, "day")
    assert repo.load("run") == []

    src = ParquetBatchSource(str(tmp_path / "batches"))
    with pytest.raises(ValueError, match="scan-shareable"):
        ingest_snapshots(spark, src, repo, "run", [Uniqueness(["id"])])


def test_clear_deletes_only_its_own_run(spark, tmp_path):
    record = StateRecord("b0", "Size|*|", "null")
    # a plain path and a file:// URI root
    for scheme, root in (("", tmp_path / "plain"), ("file://", tmp_path / "uri")):
        repo = StateRepository(scheme + str(root))
        for run_id in ("keep", "drop"):
            repo.save(run_id, [record])
        # the log lands at the URI's path
        assert len(list((root / "keep").glob("states_*.parquet"))) == 1
        for bad in ("", ".", "..", "../states", "keep/.."):
            with pytest.raises(ValueError, match="plain directory name"):
                repo.clear(bad)
        repo.clear("drop")
        assert repo.load("drop") == []
        assert repo.load("keep") == [record]
