"""Shared Spark session + ported reference fixtures.

Fixture frames are verbatim ports of the reference's pytest fixtures
(``hooqu/tests/fixtures.py:9-110``, ``tests/test_uniqueness.py:12-25``,
``tests/test_sample.py:7-16``) built as Spark DataFrames with explicit
schemas so expected metric values carry over unchanged.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import types as T


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("hooqu-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        # AQE is a scale feature; on toy frames it only adds per-query
        # overhead and splits queries into multiple jobs.
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> ``(fn(), number of Spark jobs fn started)``,
    counted with a job group."""

    def count(fn):
        sc = spark.sparkContext
        # a fresh group per call: the tracker keeps earlier calls' jobs
        group = f"test-job-budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count


def _schema(*fields):
    return T.StructType([T.StructField(n, t, nullable=True) for n, t in fields])


LONG = T.LongType()
DOUBLE = T.DoubleType()
STR = T.StringType()


@pytest.fixture
def df_missing(spark):
    # hooqu/tests/fixtures.py:9-28 — att1 completeness 0.5, att2 0.75
    return spark.createDataFrame(
        [
            (1, "a", "f"),
            (2, "b", "d"),
            (3, None, "f"),
            (4, "a", None),
            (5, "a", "f"),
            (6, None, "d"),
            (7, None, "d"),
            (8, "b", None),
            (9, "a", "f"),
            (10, None, None),
            (11, None, "f"),
            (12, None, "d"),
        ],
        _schema(("item", LONG), ("att1", STR), ("att2", STR)),
    )


@pytest.fixture
def df_full(spark):
    # fixtures.py:31-42
    return spark.createDataFrame(
        [(1, "a", "c"), (2, "a", "c"), (3, "a", "c"), (4, "b", "d")],
        _schema(("item", LONG), ("att1", STR), ("att2", STR)),
    )


@pytest.fixture
def df_with_numeric_values(spark):
    # fixtures.py:45-58 — att1: min 1, max 6, mean 3.5, stddev_pop
    # 1.707825127659933, sum 21, median(nearest) 3
    return spark.createDataFrame(
        [
            (1, 1, 0, 0),
            (2, 2, 0, 0),
            (3, 3, 0, 0),
            (4, 4, 5, 4),
            (5, 5, 6, 6),
            (6, 6, 7, 7),
        ],
        _schema(("item", LONG), ("att1", LONG), ("att2", LONG), ("att3", LONG)),
    )


@pytest.fixture
def df_comp_incomp(spark):
    # fixtures.py:61-73 — att1 complete, att2 4/6
    return spark.createDataFrame(
        [
            (1, "a", "f"),
            (2, "b", "d"),
            (3, "a", None),
            (4, "a", "f"),
            (5, "b", None),
            (6, "a", "f"),
        ],
        _schema(("item", LONG), ("att1", STR), ("att2", STR)),
    )


@pytest.fixture
def df_with_unique_columns(spark):
    # fixtures.py:76-95
    return spark.createDataFrame(
        [
            (1, 0, 3, 1, 5, 0),
            (2, 0, 3, 2, 6, 0),
            (3, 0, 3, None, 7, 0),
            (4, 5, None, 3, 0, 4),
            (5, 6, None, 4, 0, 5),
            (6, 7, None, 5, 0, 6),
        ],
        _schema(
            ("unique", LONG),
            ("nonUnique", LONG),
            ("nonUniqueWithNulls", LONG),
            ("uniqueWithNulls", LONG),
            ("onlyUniqueWithOtherNonUnique", LONG),
            ("halfUniqueCombinedWithNonUnique", LONG),
        ),
    )


@pytest.fixture
def df_with_distinct_values(spark):
    # fixtures.py:98-110
    return spark.createDataFrame(
        [
            ("a", None),
            ("a", None),
            (None, "x"),
            ("b", "x"),
            ("b", "x"),
            ("c", "y"),
        ],
        _schema(("att1", STR), ("att2", STR)),
    )


# -- edge-case frames replacing the reference's Hypothesis strategies --------
# (fixtures.py:113-136 generated float frames with NaN and +-inf plus a
# string column; deterministic equivalents below)

@pytest.fixture
def df_empty(spark):
    return spark.createDataFrame(
        [], _schema(("item", DOUBLE), ("att1", STR), ("att2", DOUBLE))
    )


@pytest.fixture
def df_all_null_numeric(spark):
    return spark.createDataFrame(
        [(None, "a", None), (None, "b", None)],
        _schema(("item", DOUBLE), ("att1", STR), ("att2", DOUBLE)),
    )


@pytest.fixture
def df_with_nan_inf(spark):
    inf = float("inf")
    nan = float("nan")
    return spark.createDataFrame(
        [
            (1.0, "a", 1.0),
            (2.0, "b", nan),
            (3.0, "c", -inf),
            (4.0, "d", inf),
            (5.0, "e", 2.0),
        ],
        _schema(("item", DOUBLE), ("att1", STR), ("att2", DOUBLE)),
    )
