"""Physical-plan assertions for the scale-critical properties.

These tests never run jobs — they stringify `executedPlan` (AQE is off
in the test session, so plans are static) and pin the properties that
make the engine viable at 100 TB:

* metric suites compile to ONE scan + ONE exchange;
* scans are column-pruned to the referenced columns;
* `where` filters on grouping analyzers push down to the parquet scan;
* grand totals broadcast (never an empty-spec window);
* dedup keys shuffle exactly once; pure-predicate ops don't shuffle;
* no operator ever plans a CartesianProduct.
"""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


class TestFusedAggregatePlan:
    def test_one_scan_one_exchange_column_pruned(self, lineitem):
        from hooqu_spark.analyzers import Mean, Minimum, Size, Sum
        from hooqu_spark.analyzers.base import apply_projections

        analyzers = [
            Size(),
            Minimum("l_quantity"),
            Sum("l_quantity"),
            Mean("l_extendedprice"),
            Minimum("l_quantity", where="l_linenumber > 1"),
        ]
        agg_input = apply_projections(lineitem, analyzers)
        exprs = []
        for a in analyzers:
            exprs.extend(a.aggregation_exprs(agg_input))
        job = agg_input.agg(*(e.alias(f"_x{i}") for i, e in enumerate(exprs)))
        p = plan_str(job)
        assert p.count("Scan parquet") == 1  # every analyzer shares ONE scan
        assert p.count("Exchange") == 1      # single aggregate-buffer exchange
        # column pruning: only the three referenced columns are read
        read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
        assert "l_quantity" in read_schema
        assert "l_extendedprice" in read_schema
        assert "l_linenumber" in read_schema
        assert "l_orderkey" not in read_schema
        assert "l_comment" not in read_schema

    def test_where_fuses_as_conditional_aggregate_not_second_scan(
        self, lineitem
    ):
        # two differently-filtered Minimums still = one scan
        from hooqu_spark.analyzers import Minimum
        from hooqu_spark.analyzers.base import apply_projections

        analyzers = [
            Minimum("l_quantity"),
            Minimum("l_quantity", where="l_returnflag == 'A'"),
        ]
        agg_input = apply_projections(lineitem, analyzers)
        exprs = []
        for a in analyzers:
            exprs.extend(a.aggregation_exprs(agg_input))
        p = plan_str(
            agg_input.agg(*(e.alias(f"_x{i}") for i, e in enumerate(exprs)))
        )
        assert p.count("Scan parquet") == 1


class TestPushdownPlans:
    def test_grouping_where_pushes_to_scan(self, lineitem):
        from hooqu_spark.analyzers import FrequencyBasedAnalyzer

        state = FrequencyBasedAnalyzer.compute_frequencies(
            lineitem, ["l_returnflag"], where="l_quantity > 10"
        )
        p = plan_str(state.frequencies)
        pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
        assert "GreaterThan(l_quantity,10" in pushed

    def test_stratified_sample_is_pure_predicate(self, documents):
        from hooqu_spark.ops import stratified_sample

        out = stratified_sample(documents, "lang", {"en": 0.5}, "doc_id")
        p = plan_str(out)
        assert "Exchange" not in p  # no shuffle: a per-row keep predicate
        pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
        assert "In(lang" in pushed or "EqualTo(lang" in pushed


class TestBroadcastAndShuffle:
    def test_histogram_total_broadcasts_no_window(self, lineitem):
        from hooqu_spark.analyzers import Histogram

        dist = Histogram("l_returnflag").distribution(lineitem)
        p = plan_str(dist)
        assert "BroadcastNestedLoopJoin" in p  # 1-row grand total
        assert "Window" not in p               # never an empty-spec window

    def test_exact_dedup_single_key_shuffle(self, documents):
        from hooqu_spark.ops import exact_dedup

        out = exact_dedup(documents, ["lang", "source"], "doc_id")
        p = plan_str(out)
        assert p.count("Exchange hashpartitioning") == 1
        assert "lang" in p.split("Exchange hashpartitioning", 1)[1][:80]

    def test_contamination_benchmark_broadcasts(self, documents):
        from hooqu_spark.ops import flag_contamination

        bench = documents.where(F.col("doc_id") < 5)
        out = flag_contamination(documents, bench, "doc_id")
        assert "BroadcastHashJoin" in plan_str(out)

    def test_cap_per_key_two_phase_shuffles(self, documents):
        from hooqu_spark.ops import cap_per_key

        p = plan_str(cap_per_key(documents, ["lang"], 5, ["doc_id"]))
        # phase 1 shuffles on (key, salt) — the hot key spread across
        # salts — phase 2 on the key alone over the n*n_salts survivors
        assert p.count("Exchange hashpartitioning") == 2
        first, second = p.split("Exchange hashpartitioning")[1:3]
        # plan prints top-down: the key-only window is listed first
        assert "_cap_salt" not in first[:80]
        assert "_cap_salt" in second[:80]

    def test_sessionize_one_user_shuffle_with_partial_merge(self, spark):
        from hooqu_spark.ops import session_stats, sessionize

        events = spark.read.parquet(f"{SF_DIR}/events.parquet")
        p = plan_str(sessionize(events))
        # exactly one exchange, keyed on the user alone (session
        # windows are data-dependent, so the shuffle key must be the
        # user; the session merge happens post-sort)
        assert p.count("Exchange hashpartitioning") == 1
        assert "user_id" in p.split("Exchange hashpartitioning", 1)[1][:60]
        # map-side partial session aggregation bounds the shuffle to
        # merged spans, not raw events
        assert "partial_count" in p.split("Exchange", 1)[1]
        assert "MergingSessions" in p
        # columns pruned to (ts, user) at the scan
        assert "ReadSchema: struct<ts" in p
        # the per-user rollup reuses hashpartitioning(user): still ONE
        # exchange total
        assert plan_str(session_stats(events)).count(
            "Exchange hashpartitioning"
        ) == 1


class TestNoCartesianProducts:
    def test_near_duplicates_join_is_keyed(self, spark):
        from hooqu_spark.ops import embedding_near_duplicates

        vecs = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(10)],
            "vec_id long, embedding array<double>",
        )
        p = plan_str(embedding_near_duplicates(vecs, threshold=0.9, n_planes=2))
        assert "CartesianProduct" not in p

    def test_near_duplicates_bucket_udf_runs_once(self, spark):
        # the bucket UDF feeds both join sides through one reused
        # exchange; an inferred isnotnull(_bucket) filter would run it
        # a second time below the projection
        from hooqu_spark.ops import embedding_near_duplicates

        vecs = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(10)],
            "vec_id long, embedding array<double>",
        )
        p = plan_str(embedding_near_duplicates(vecs, threshold=0.9, n_planes=2))
        assert p.count("ArrowEvalPython") == 1

    def test_semantic_pairs_assign_udf_runs_once(self, spark):
        # same shape with the k-means cluster id as the join key: an
        # inferred isnotnull(_la) filter would run the assignment UDF
        # a second time
        from hooqu_spark.ops import semantic_duplicate_pairs

        vecs = spark.createDataFrame(
            [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(64)],
            "vec_id long, embedding array<double>",
        )
        p = plan_str(
            semantic_duplicate_pairs(
                vecs, n_clusters=4, threshold=0.9, sample_size=64
            )
        )
        assert p.count("ArrowEvalPython") == 1

    def test_semantic_pair_join_is_cluster_keyed(self, spark):
        from hooqu_spark.ops import semantic_duplicate_pairs

        vecs = spark.createDataFrame(
            [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(64)],
            "vec_id long, embedding array<double>",
        )
        p = plan_str(
            semantic_duplicate_pairs(
                vecs, n_clusters=4, threshold=0.9, sample_size=64
            )
        )
        # blocking on the k-means cluster id: the cosine join must be
        # a cluster-keyed equi-join (shuffle on the aliased cluster
        # column _la), never a global all-pairs
        assert "CartesianProduct" not in p
        assert "_la" in p.split("Exchange hashpartitioning", 1)[1][:40]

    def test_lsh_candidate_join_is_keyed(self, documents):
        from hooqu_spark.ops.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )

        sigs = minhash_signatures(documents, "doc_id")
        p = plan_str(lsh_candidate_pairs(sigs))
        assert "CartesianProduct" not in p
        assert "band" in p  # joined on band keys


class TestPlansSurviveAQE:
    """The static-plan properties above are pinned with AQE off; the
    production configs (bench.py, DEPLOY.md) enable AQE, so the
    scale-critical properties must also hold in the FINAL adaptive
    plan — asserted here by executing the query under
    ``spark.sql.adaptive.enabled=true`` and inspecting the re-planned
    ``executedPlan`` (``isFinalPlan=true``)."""

    @pytest.fixture()
    def aqe(self, spark):
        old = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
        yield spark
        spark.conf.set("spark.sql.adaptive.enabled", old)

    @staticmethod
    def final_plan(df) -> str:
        df.collect()  # AQE finalizes the plan during execution
        p = df._jdf.queryExecution().executedPlan().toString()
        # the adaptive dump appends the pre-execution plan under an
        # "== Initial Plan ==" header — keep only the final plan
        return p.split("== Initial Plan ==")[0]

    def test_contamination_broadcast_survives_aqe(self, aqe, documents):
        from hooqu_spark.ops import flag_contamination

        bench = documents.where(F.col("doc_id") < 5)
        out = flag_contamination(documents, bench, "doc_id")
        p = self.final_plan(out)
        assert "isFinalPlan=true" in p
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p

    def test_fused_agg_still_one_scan_under_aqe(self, aqe, lineitem):
        from hooqu_spark.analyzers import Mean, Minimum, Size, Sum
        from hooqu_spark.analyzers.base import apply_projections

        analyzers = [
            Size(),
            Minimum("l_quantity"),
            Sum("l_quantity"),
            Mean("l_extendedprice"),
        ]
        agg_input = apply_projections(lineitem, analyzers)
        exprs = []
        for a in analyzers:
            exprs.extend(a.aggregation_exprs(agg_input))
        job = agg_input.agg(
            *(e.alias(f"_x{i}") for i, e in enumerate(exprs))
        )
        p = self.final_plan(job)
        assert "isFinalPlan=true" in p
        assert p.count("Scan parquet") == 1
        # AQE must not introduce extra shuffles into the fused aggregate
        assert p.count("Exchange") == 1

    def test_minhash_candidates_no_cartesian_under_aqe(
        self, aqe, documents
    ):
        from hooqu_spark.ops.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )

        sigs = minhash_signatures(documents, "doc_id")
        p = self.final_plan(lsh_candidate_pairs(sigs))
        assert "isFinalPlan=true" in p
        assert "CartesianProduct" not in p

    def test_salted_counts_match_plain_under_aqe(self, aqe, lineitem):
        # behavioral re-check: AQE re-planning (partition coalescing,
        # skew splitting) must not change the salted aggregation result
        from hooqu_spark.ops import salted_counts

        got = {
            r["l_returnflag"]: r["count"]
            for r in salted_counts(
                lineitem, ["l_returnflag"], n_salts=8
            ).collect()
        }
        want = {
            r["l_returnflag"]: r["n"]
            for r in lineitem.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want


class TestNewOpsSurviveAQE:
    """Round-4/5 additions to the AQE suite: the two-phase shape of
    the salted distinct count, the IVF probe's file-level partition
    pruning, session_stats' single user-keyed exchange, and
    asof_join's no-join single-exchange shape must survive adaptive
    re-planning."""

    @pytest.fixture()
    def aqe(self, spark):
        old = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
        yield spark
        spark.conf.set("spark.sql.adaptive.enabled", old)

    def test_salted_distinct_two_phase_survives_aqe(self, aqe, lineitem):
        from hooqu_spark.ops import salted_distinct_counts

        out = salted_distinct_counts(
            lineitem, ["l_returnflag"], "l_orderkey", n_salts=8
        )
        got = {r["l_returnflag"]: r["n_distinct"] for r in out.collect()}
        p = TestPlansSurviveAQE.final_plan(out)
        assert "isFinalPlan=true" in p
        # phase 1 shuffles on (key, VALUE-stable salt); phase 2 on the
        # key alone — AQE may coalesce partitions but must keep both
        # exchanges and the salt in the first one
        assert "_hooqu_salt" in p
        exchanges = [
            ln for ln in p.splitlines()
            if "Exchange hashpartitioning" in ln
        ]
        assert any("_hooqu_salt" in ln for ln in exchanges)
        assert any(
            "l_returnflag" in ln and "_hooqu_salt" not in ln
            for ln in exchanges
        )
        # behavioral: per-salt distincts still sum to the plain answer
        want = {
            r["l_returnflag"]: r["n"]
            for r in lineitem.groupBy("l_returnflag")
            .agg(F.count_distinct("l_orderkey").alias("n"))
            .collect()
        }
        assert got == want

    def test_session_stats_one_exchange_survives_aqe(self, aqe):
        from hooqu_spark.ops import session_stats

        events = aqe.read.parquet(f"{SF_DIR}/events.parquet")
        out = session_stats(events)
        p = TestPlansSurviveAQE.final_plan(out)
        assert "isFinalPlan=true" in p
        # the per-user rollup reuses hashpartitioning(user_id) from
        # the session-window aggregate: AQE may coalesce partitions
        # but must not introduce a second exchange
        assert p.count("Exchange hashpartitioning") == 1
        assert "user_id" in p.split("Exchange hashpartitioning", 1)[1][:60]
        assert "MergingSessions" in p

    def test_asof_join_no_join_node_survives_aqe(self, aqe):
        from hooqu_spark.ops import asof_join

        events = aqe.read.parquet(f"{SF_DIR}/events.parquet")
        left = events.select("user_id", "ts", "event_type")
        # raw right side (no dedup aggregate): isolates the exchanges
        # the as-of op itself introduces
        right = events.select("user_id", "ts", F.col("value").alias("v"))
        out = asof_join(left, right, ["user_id"], ts_col="ts")
        p = TestPlansSurviveAQE.final_plan(out)
        assert "isFinalPlan=true" in p
        # union-window form: the as-of enrichment is a union + one
        # key-shuffled window — there is NO join node for AQE to
        # re-plan into a broadcast or (worse) leave unkeyed
        assert "Join" not in p
        assert "CartesianProduct" not in p
        assert p.count("Exchange hashpartitioning") == 1
        assert "user_id" in p.split("Exchange hashpartitioning", 1)[1][:60]

    def test_ivf_probe_partition_filter_survives_aqe(
        self, aqe, tmp_path
    ):
        import numpy as np

        from hooqu_spark.ops import ivf_build_index, ivf_probe_index

        rng = np.random.RandomState(11)
        mat = rng.standard_normal((200, 8))
        vecs = aqe.createDataFrame(
            [(i, [float(x) for x in mat[i]]) for i in range(200)],
            "vec_id long, embedding array<double>",
        )
        path = str(tmp_path / "ivf_aqe")
        ivf_build_index(vecs, path, n_centroids=8)
        probe = ivf_probe_index(
            aqe, path, mat[7].tolist(), k=5, n_probe=2
        )
        assert 7 in [r["vec_id"] for r in probe.collect()]
        p = TestPlansSurviveAQE.final_plan(probe)
        # pruning is file-listing level and must not degrade to a
        # post-scan row filter under AQE
        assert "PartitionFilters" in p
        scan_line = p[p.index("PartitionFilters"):][:200]
        assert "ivf_list" in scan_line

    def test_dedup_against_broadcast_survives_aqe(self, aqe, documents):
        from hooqu_spark.ops import dedup_against

        reference = documents.select("doc_id", "text").where(
            F.col("doc_id") % 7 == 0
        )
        out = dedup_against(
            documents.select("doc_id", "text"),
            reference,
            ["text"],
            broadcast_reference=True,
        )
        out.collect()
        p = TestPlansSurviveAQE.final_plan(out)
        assert "isFinalPlan=true" in p
        # the anti join must stay a broadcast (keys-only build side),
        # never a shuffled or cartesian plan
        assert "BroadcastHashJoin" in p and "LeftAnti" in p
        assert "CartesianProduct" not in p
