"""Salted two-phase aggregation (skew handling)."""

import pytest
from pyspark.sql import functions as F

from hooqu_spark.ops import (
    salted_agg,
    salted_counts,
    salted_numeric_summary,
    top_hot_keys,
)


class TestDuplicateClusters:
    def test_chain_collapses_transitively(self, spark):
        from hooqu_spark.ops import duplicate_clusters

        # chain 1~2~3~4 plus isolated pair 10~11: pairwise dedup would
        # under-merge the chain; CC collapses it all to min id 1
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
        )
        got = {
            r["id"]: r["cluster"] for r in duplicate_clusters(pairs).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_dedup_by_clusters_keeps_one_per_component(self, spark):
        from hooqu_spark.ops import dedup_by_clusters

        df = spark.createDataFrame(
            [(i, f"doc{i}") for i in (1, 2, 3, 4, 10, 11, 99)],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
        )
        kept = {
            r["doc_id"]
            for r in dedup_by_clusters(df, pairs, "doc_id").collect()
        }
        assert kept == {1, 10, 99}  # one survivor per cluster + untouched

    def test_merging_components(self, spark):
        from hooqu_spark.ops import duplicate_clusters

        # two stars joined by a bridge edge -> single component
        pairs = spark.createDataFrame(
            [(5, 6), (5, 7), (20, 21), (20, 22), (7, 22)],
            "id_a long, id_b long",
        )
        got = {
            r["id"]: r["cluster"] for r in duplicate_clusters(pairs).collect()
        }
        assert set(got.values()) == {5}
        assert set(got) == {5, 6, 7, 20, 21, 22}


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key holding 80% of rows + a long tail
    rows = [("hot.example", float(i % 7)) for i in range(800)]
    rows += [(f"host{i % 40}.example", float(i)) for i in range(200)]
    return spark.createDataFrame(rows, "host string, v double")


class TestSaltedAgg:
    def test_counts_match_plain_groupby(self, skewed):
        plain = {
            r["host"]: r["count"]
            for r in skewed.groupBy("host").count().collect()
        }
        salted = {
            r["host"]: r["count"]
            for r in salted_counts(skewed, ["host"]).collect()
        }
        assert salted == plain

    def test_distinct_counts_match_plain(self, skewed):
        from hooqu_spark.ops import salted_distinct_counts

        plain = {
            r["host"]: r["n"]
            for r in skewed.groupBy("host")
            .agg(F.count_distinct("v").alias("n"))
            .collect()
        }
        salted = {
            r["host"]: r["n_distinct"]
            for r in salted_distinct_counts(
                skewed, ["host"], "v", n_salts=8
            ).collect()
        }
        assert salted == plain

    def test_distinct_counts_null_values_excluded(self, spark):
        from hooqu_spark.ops import salted_distinct_counts

        df = spark.createDataFrame(
            [("a", 1.0), ("a", None), ("a", 1.0), ("b", None)],
            "host string, v double",
        )
        got = {
            r["host"]: r["n_distinct"]
            for r in salted_distinct_counts(df, ["host"], "v").collect()
        }
        # count_distinct ignores NULLs: a -> {1.0}, b -> {}
        assert got == {"a": 1, "b": 0}

    def test_distinct_value_lands_in_one_salt_bucket(self, skewed):
        # the salt must be value-stable: per-salt distinct counts sum
        # to the true distinct count only if no value straddles buckets
        from hooqu_spark.ops import salted_distinct_counts

        doubled = skewed.unionByName(skewed)  # duplicate every row
        plain = {
            r["host"]: r["n"]
            for r in doubled.groupBy("host")
            .agg(F.count_distinct("v").alias("n"))
            .collect()
        }
        salted = {
            r["host"]: r["n_distinct"]
            for r in salted_distinct_counts(
                doubled, ["host"], "v", n_salts=16
            ).collect()
        }
        assert salted == plain

    def test_numeric_summary_matches(self, skewed):
        want = {
            r["host"]: r
            for r in skewed.groupBy("host")
            .agg(
                F.count("v").alias("n"),
                F.sum("v").alias("sum"),
                F.min("v").alias("min"),
                F.max("v").alias("max"),
                F.avg("v").alias("mean"),
            )
            .collect()
        }
        got = {
            r["host"]: r
            for r in salted_numeric_summary(skewed, ["host"], "v").collect()
        }
        assert set(got) == set(want)
        for host, g in got.items():
            w = want[host]
            assert g["n"] == w["n"]
            assert g["sum"] == pytest.approx(w["sum"], rel=1e-12)
            assert g["min"] == w["min"] and g["max"] == w["max"]
            assert g["mean"] == pytest.approx(w["mean"], rel=1e-12)

    def test_phase1_splits_hot_key(self, skewed):
        # the hot key must occupy multiple salt groups in phase 1
        out = salted_agg(
            skewed,
            ["host"],
            {"c": (F.count(F.lit(1)), F.sum("c"))},
            n_salts=8,
        )
        # phase-2 result is correct...
        hot = out.where(F.col("host") == "hot.example").first()
        assert hot["c"] == 800
        # ...and phase 1 genuinely used several salts for the hot key
        from hooqu_spark.ops.skew import _SALT, _salt_col

        n_groups = (
            skewed.where(F.col("host") == "hot.example")
            .select(_salt_col(8).alias(_SALT))
            .distinct()
            .count()
        )
        assert n_groups >= 4

    def test_salt_does_not_scan_payload_columns(self, skewed):
        # the salt derives from row position only — hashing payload
        # columns (full document text, binary media) per row purely to
        # derive a salt is wasted CPU at 100 TB scale
        from hooqu_spark.ops.skew import _salt_col

        expr = _salt_col(8)._jc.toString()
        for c in skewed.columns:
            assert c not in expr
        assert "monotonically_increasing_id" in expr

    def test_deterministic_salt(self, skewed):
        a = sorted(
            (r["host"], r["count"])
            for r in salted_counts(skewed, ["host"]).collect()
        )
        b = sorted(
            (r["host"], r["count"])
            for r in salted_counts(skewed, ["host"]).collect()
        )
        assert a == b

    def test_duplicate_rows_still_split_across_salts(self, spark):
        # a hot key whose rows are VERBATIM duplicates (key-only table)
        # must still spread across salts — salting on column values
        # alone would put every copy on one salt
        from hooqu_spark.ops.skew import _SALT, _salt_col, salted_counts

        dup = spark.createDataFrame(
            [("hot",)] * 1000, "host string"
        ).repartition(4)
        n_salts = (
            dup.select(_salt_col(16).alias(_SALT))
            .distinct()
            .count()
        )
        assert n_salts > 4  # hot duplicated key split across many salts
        rows = salted_counts(dup, ["host"]).collect()
        assert [(r["host"], r["count"]) for r in rows] == [("hot", 1000)]

    def test_top_hot_keys(self, skewed):
        rows = top_hot_keys(skewed, ["host"], k=3).collect()
        assert rows[0]["host"] == "hot.example"
        assert rows[0]["count"] == 800
        assert len(rows) == 3


class TestCapPerKey:
    def test_exact_vs_plain_window(self, spark):
        import random

        from pyspark.sql import Window

        from hooqu_spark.ops import cap_per_key

        rng = random.Random(11)
        rows = [
            (f"h{rng.randrange(5)}", rng.randrange(10_000), float(i))
            for i in range(600)
        ]
        df = spark.createDataFrame(rows, "host string, doc_id long, v double")
        capped = cap_per_key(df, ["host"], 7, ["doc_id"], n_salts=8)
        got = sorted((r.host, r.doc_id) for r in capped.collect())
        # independent plain single-window reference
        w = Window.partitionBy("host").orderBy("doc_id")
        want = sorted(
            (r.host, r.doc_id)
            for r in df.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= 7)
            .collect()
        )
        assert got == want

    def test_hot_key_capped_other_columns_kept(self, skewed):
        from hooqu_spark.ops import cap_per_key

        capped = cap_per_key(skewed, ["host"], 10, ["v"])
        per_key = {
            r.host: r.n
            for r in capped.groupBy("host")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert per_key["hot.example"] == 10
        assert all(v <= 10 for v in per_key.values())
        assert set(capped.columns) == set(skewed.columns)  # no temp cols


class TestTokenBudgetSampling:
    @pytest.fixture(scope="class")
    def docs_with_tokens(self, spark):
        rows = []
        for i in range(30):
            rows.append((i, "en", 100))
        for i in range(30, 50):
            rows.append((i, "de", 50))
        for i in range(50, 55):
            rows.append((i, "fr", 10))
        return spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")

    def test_budget_respected_per_language(self, docs_with_tokens):
        from hooqu_spark.ops import sample_to_token_budget

        out = sample_to_token_budget(
            docs_with_tokens, {"en": 500, "de": 120}, order_by="id"
        )
        rows = out.groupBy("lang").agg(
            F.sum("n_tokens").alias("tok"), F.count("*").alias("n")
        ).collect()
        by_lang = {r["lang"]: (r["tok"], r["n"]) for r in rows}
        assert by_lang["en"] == (500, 5)   # 5 docs x 100 tokens
        assert by_lang["de"] == (100, 2)   # 2 x 50 <= 120 < 3 x 50
        assert "fr" not in by_lang         # no budget -> dropped

    def test_id_order_keeps_smallest_ids(self, docs_with_tokens):
        from hooqu_spark.ops import sample_to_token_budget

        out = sample_to_token_budget(
            docs_with_tokens, {"en": 300}, order_by="id"
        )
        assert sorted(r["doc_id"] for r in out.collect()) == [0, 1, 2]

    def test_zero_token_doc_in_unbudgeted_language_dropped(self, spark):
        # contract: languages missing from `budgets` are dropped — a
        # zero-token doc used to satisfy cum(0) <= coalesce(budget, 0)
        # and leak through
        from hooqu_spark.ops import sample_to_token_budget

        df = spark.createDataFrame(
            [(1, "en", 10), (2, "xx", 0), (3, "xx", 5)],
            "doc_id long, lang string, n_tokens long",
        )
        out = sample_to_token_budget(df, {"en": 100}, order_by="id")
        assert sorted(r["doc_id"] for r in out.collect()) == [1]

    def test_hash_order_deterministic(self, docs_with_tokens):
        from hooqu_spark.ops import sample_to_token_budget

        a = sorted(
            r["doc_id"]
            for r in sample_to_token_budget(
                docs_with_tokens, {"en": 500}
            ).collect()
        )
        b = sorted(
            r["doc_id"]
            for r in sample_to_token_budget(
                docs_with_tokens, {"en": 500}
            ).collect()
        )
        assert a == b and len(a) == 5


class TestWeightedMixing:
    def test_weights_allocate_the_total_budget(self, spark):
        from hooqu_spark.ops import mix_to_token_budget

        rows = [(i, "web", 100) for i in range(40)]
        rows += [(100 + i, "code", 100) for i in range(40)]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, n_tokens long"
        )
        # 75/25 recipe over a 2000-token total -> 1500 web, 500 code
        out = mix_to_token_budget(
            df, {"web": 3, "code": 1}, 2000, order_by="id"
        )
        by_src = {
            r["source"]: r["tok"]
            for r in out.groupBy("source")
            .agg(F.sum("n_tokens").alias("tok"))
            .collect()
        }
        assert by_src == {"web": 1500, "code": 500}

    def test_zero_budget_stratum_keeps_nothing(self, spark):
        from hooqu_spark.ops import mix_to_token_budget

        # zero-token docs in every stratum: cum(0) <= 0 would keep them
        # against a budget of 0
        rows = [(i, "web", 0 if i < 2 else 10) for i in range(5)]
        rows += [(100 + i, "code", 0) for i in range(3)]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, n_tokens long"
        )

        def kept(weights, total):
            out = mix_to_token_budget(df, weights, total, order_by="id")
            return {r["source"] for r in out.collect()}

        assert kept({"web": 1, "code": 0}, 100) == {"web"}  # 0 weight
        assert kept({"web": 1000, "code": 1}, 100) == {"web"}  # truncated to 0
        assert kept({"web": 1, "code": 1}, 1) == set()  # every budget is 0

    def test_degenerate_inputs_raise(self, spark):
        from hooqu_spark.ops import mix_to_token_budget

        df = spark.createDataFrame(
            [(1, "web", 10)], "doc_id long, source string, n_tokens long"
        )
        with pytest.raises(ValueError, match="weights"):
            mix_to_token_budget(df, {"web": 0.0}, 100)
        with pytest.raises(ValueError, match="total_tokens"):
            mix_to_token_budget(df, {"web": 1.0}, -5)
        # a negative weight passes the sum>0 check but would silently
        # allocate the positive stratum MORE than total_tokens
        with pytest.raises(ValueError, match="weights"):
            mix_to_token_budget(df, {"web": 2.0, "code": -1.0}, 1000)
