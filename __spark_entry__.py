"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship verification flow on sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 (hooqu analyzer surface) plus the training-data pipeline
ops (dedup / similarity / text analysis) with DuckDB oracle SQL.

Column-name and value conventions: every aggregate is aliased
identically on both sides; doubles whose bit-exactness depends on
summation order are rounded to 6 (or 4) decimals on BOTH sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# entry: flagship query (sf0.001 smoke)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Run the flagship VerificationSuite on sf0.001 and return the
    computed metrics as a DataFrame (entity, instance, name, value)."""
    from hooqu_spark import Check, CheckLevel, VerificationSuite
    from hooqu_spark.analyzers.runner import AnalyzerContext

    sf_dir = "/root/testdata/sf0.001"
    lineitem = _t(spark, sf_dir, "lineitem")
    result = (
        VerificationSuite()
        .on_data(lineitem)
        .add_check(
            Check(CheckLevel.ERROR, "lineitem integrity")
            .has_size(lambda n: n > 0)
            .is_complete("l_orderkey")
            .is_non_negative("l_quantity")
            .has_min("l_discount", lambda v: v >= 0)
            .has_max("l_tax", lambda v: v <= 1)
            .is_contained_in("l_returnflag", ("A", "N", "R"))
            .has_quantile("l_quantity", 0.5, lambda v: 0 < v < 100)
            .has_uniqueness(["l_orderkey", "l_linenumber"], lambda v: v == 1.0)
        )
        .run()
    )
    ctx = AnalyzerContext(result.metrics)
    pdf = AnalyzerContext.success_metrics_as_dataframe(ctx)
    return spark.createDataFrame(pdf)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def _scalar(value_col, alias: str):
    def q(df: DataFrame) -> DataFrame:
        return df.agg(value_col.alias(alias))

    return q


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Each callable mirrors an analyzer/operator; heavy lifting is the
    # same engine code paths the library uses.
    from hooqu_spark.analyzers import (
        Completeness,
        Compliance,
        Maximum,
        MaxLength,
        Mean,
        Minimum,
        MinLength,
        PatternMatch,
        Quantile,
        Size,
        StandardDeviation,
        Sum,
    )

    def fused_analyzers_query(table: str, spec):
        """ONE fused single-scan `do_analysis_run` job covering every
        scalar analyzer on `table` — the engine's actual execution
        shape (the per-analyzer standalone queries it replaces each
        paid a separate scan, and together they crowded the driver's
        50-query grading cap).  `spec` = [(alias, analyzer, round_to)];
        output is one row with one aliased double per analyzer."""

        def q(spark: SparkSession, sf_dir: str) -> DataFrame:
            from hooqu_spark.analyzers import do_analysis_run

            df = _t(spark, sf_dir, table)
            ctx = do_analysis_run(df, [a for _, a, _ in spec])
            row = {}
            for alias, analyzer, round_to in spec:
                value = float(ctx.metric_map[analyzer].value.get())
                row[alias] = (
                    value if round_to is None else round(value, round_to)
                )
            schema = " double, ".join(a for a, _, _ in spec) + " double"
            return spark.createDataFrame([tuple(row.values())], schema)

        return q

    def uniqueness_query(table: str, cols, alias: str):
        def q(spark: SparkSession, sf_dir: str) -> DataFrame:
            from hooqu_spark.analyzers import Uniqueness

            df = _t(spark, sf_dir, table)
            value = Uniqueness(cols).calculate(df).value.get()
            return spark.createDataFrame([(float(value),)], f"{alias} double")

        return q

    def entropy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark.analyzers import Entropy

        df = _t(spark, sf_dir, "events")
        value = Entropy(["event_type"]).calculate(df).value.get()
        return spark.createDataFrame([(round(value, 6),)], "entropy double")

    def distinctness_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark.analyzers import Distinctness

        df = _t(spark, sf_dir, "orders")
        value = Distinctness(["o_custkey"]).calculate(df).value.get()
        return spark.createDataFrame([(float(value),)], "distinctness double")

    def count_distinct_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark.analyzers import CountDistinct

        df = _t(spark, sf_dir, "part")
        value = CountDistinct(["p_brand"]).calculate(df).value.get()
        return spark.createDataFrame([(float(value),)], "n_brands double")

    def frequencies_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark.analyzers import FrequencyBasedAnalyzer

        df = _t(spark, sf_dir, "events")
        state = FrequencyBasedAnalyzer.compute_frequencies(df, ["event_type"])
        return state.frequencies.select(
            "event_type", F.col("hooqu_count").alias("n")
        )

    def compliance_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark.analyzers import Compliance

        df = _t(spark, sf_dir, "events")
        value = (
            Compliance("hi", "value > 100", where="event_type == 'purchase'")
            .calculate(df)
            .value.get()
        )
        return spark.createDataFrame([(float(value),)], "frac double")

    # -- training-data ops ---------------------------------------------------
    def dedup_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark.ops import exact_dedup

        df = _t(spark, sf_dir, "documents")
        return exact_dedup(df, ["lang", "source"], "doc_id").select(
            "doc_id", "lang", "source"
        )

    def token_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # FUSED (round 5): whitespace count + the BPE-ish regex count
        # (ops.text.bpe_token_count_col) + dedup-key text normalization
        # (ops.text.normalized_text_col) grade in one scan.  The
        # corpus itself is already lowercase single-spaced, so the
        # normalization is exercised on a DERIVED messy column (upper
        # case + injected whitespace runs, built identically in the
        # oracle) — otherwise the contract would grade a no-op.
        from hooqu_spark.ops import token_counts
        from hooqu_spark.ops.text import (
            bpe_token_count_col,
            normalized_text_col,
        )

        df = _t(spark, sf_dir, "documents")
        messy = F.concat(
            F.lit("  "),
            F.upper(F.substring("text", 1, 40)),
            F.lit(" \t\n "),
            F.col("lang"),
            F.lit("  "),
        )
        return (
            token_counts(df)
            .withColumn("_messy", messy)
            .select(
                "doc_id",
                F.col("n_tokens").cast("long").alias("n_tokens"),
                bpe_token_count_col("text").cast("long").alias(
                    "n_bpe_tokens"
                ),
                normalized_text_col("_messy").alias("norm_text"),
            )
        )

    def lang_distribution_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark.ops import language_distribution

        return language_distribution(_t(spark, sf_dir, "documents"))

    def topk_cosine_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Exact brute-force cosine top-5 for vec_id=3's embedding,
        # computed JVM-side by pairwise_cosine against the query as a
        # literal array, so float semantics match the DuckDB oracle
        # (both engines: float->double cast, left-to-right summation).
        from hooqu_spark.ops.similarity import pairwise_cosine

        emb = _t(spark, sf_dir, "embeddings").withColumn(
            "e", F.col("embedding").cast("array<double>")
        )
        q = emb.where(F.col("vec_id") == 3).select("e").first()[0]
        qlit = F.array(*[F.lit(float(x)) for x in q])
        cosine = F.round(pairwise_cosine(F.col("e"), qlit), 6)
        return (
            emb.select("vec_id", cosine.alias("cosine"))
            .orderBy(F.desc("cosine"), F.col("vec_id"))
            .limit(5)
        )

    def correlation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark.analyzers import Correlation

        df = _t(spark, sf_dir, "lineitem")
        value = (
            Correlation("l_quantity", "l_extendedprice")
            .calculate(df)
            .value.get()
        )
        return spark.createDataFrame([(round(value, 6),)], "corr double")

    def mutual_information_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark.analyzers import MutualInformation

        df = _t(spark, sf_dir, "orders")
        value = (
            MutualInformation(["o_orderstatus", "o_orderpriority"])
            .calculate(df)
            .value.get()
        )
        return spark.createDataFrame([(round(value, 6),)], "mi double")

    def histogram_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark.analyzers import Histogram

        df = _t(spark, sf_dir, "lineitem")
        return Histogram("l_returnflag").distribution(df).select(
            "value", "count", F.round("ratio", 6).alias("ratio")
        )

    def unique_value_ratio_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark.analyzers import UniqueValueRatio

        df = _t(spark, sf_dir, "orders")
        value = UniqueValueRatio(["o_custkey"]).calculate(df).value.get()
        return spark.createDataFrame([(float(value),)], "uvr double")

    def data_type_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Derive a deterministic mixed-type string column from event_id,
        # classify with DataTypeHistogram, return the bucket counts.
        from hooqu_spark.analyzers import DataTypeHistogram

        df = _t(spark, sf_dir, "events").withColumn(
            "v",
            F.when(F.col("event_id") % 4 == 0, F.lit("true"))
            .when(F.col("event_id") % 4 == 1, F.col("event_id").cast("string"))
            .when(
                F.col("event_id") % 4 == 2,
                F.concat(F.col("event_id").cast("string"), F.lit(".5")),
            )
            .otherwise(F.lit("txt")),
        )
        s = DataTypeHistogram("v").compute_state_from(df)
        return spark.createDataFrame(
            [(s.n_boolean, s.n_integral, s.n_fractional, s.n_string, s.n_null)],
            "n_boolean long, n_integral long, n_fractional long,"
            " n_string long, n_null long",
        )

    def has_data_type_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Drives the has_data_type check method end-to-end (its
        # VERDICT-noted direct contract row): the dominant-type
        # fraction of the derived mixed column plus the check status.
        from hooqu_spark import Check, CheckLevel, VerificationSuite

        df = _t(spark, sf_dir, "events").withColumn(
            "v",
            F.when(F.col("event_id") % 4 == 0, F.lit("true"))
            .when(F.col("event_id") % 4 == 1, F.col("event_id").cast("string"))
            .when(
                F.col("event_id") % 4 == 2,
                F.concat(F.col("event_id").cast("string"), F.lit(".5")),
            )
            .otherwise(F.lit("txt")),
        )
        result = (
            VerificationSuite()
            .on_data(df)
            .add_check(
                Check(CheckLevel.ERROR, "dtype").has_data_type(
                    "v", lambda frac: 0.2 < frac < 0.3
                )
            )
            .run()
        )
        frac = next(iter(result.metrics.values())).value.get()
        return spark.createDataFrame(
            [(round(float(frac), 6), result.status.name)],
            "dominant_frac double, status string",
        )

    def ivf_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # IVF with n_probe == n_centroids is exhaustive -> exact top-k,
        # so the brute-force SQL oracle applies; partial-probe recall is
        # covered by the pytest suite.
        from hooqu_spark.ops import ivf_topk

        emb = _t(spark, sf_dir, "embeddings").withColumn(
            "e", F.col("embedding").cast("array<double>")
        )
        q = emb.where(F.col("vec_id") == 3).select("e").first()[0]
        out = ivf_topk(
            emb, q, k=5, vec_col="e", id_col="vec_id",
            n_centroids=8, n_probe=8,
        )
        return out.select("vec_id", F.round("cosine", 6).alias("cosine"))

    def profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Column profiler (single fused scan); the SQL-expressible
        # fields are oracle-checked per column.
        from hooqu_spark.profiler import profile_columns

        df = _t(spark, sf_dir, "orders")
        cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
        profiles = profile_columns(df, cols, with_histograms=False)
        rows = [
            (
                c,
                float(p.completeness),
                None if p.minimum is None else round(p.minimum, 6),
                None if p.maximum is None else round(p.maximum, 6),
            )
            for c, p in profiles.items()
        ]
        return spark.createDataFrame(
            rows, "column string, completeness double, min_v double, max_v double"
        )

    def token_budget_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Training-data mixing: greedy per-language token budgets with
        # deterministic id ordering (cross-engine reproducible).
        from hooqu_spark.ops import sample_to_token_budget, token_counts

        df = token_counts(_t(spark, sf_dir, "documents"))
        out = sample_to_token_budget(
            df, {"en": 2000, "de": 1000}, order_by="id"
        )
        return out.select(
            "doc_id", "lang", F.col("n_tokens").cast("long").alias("n_tokens")
        )

    def custom_sql_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark.analyzers import CustomSql

        df = _t(spark, sf_dir, "lineitem")
        value = (
            CustomSql(
                "max(l_extendedprice) - min(l_extendedprice)",
                instance="price_range",
            )
            .calculate(df)
            .value.get()
        )
        return spark.createDataFrame([(round(value, 6),)], "price_range double")

    def metrics_by_group_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark.analyzers import Mean, Size
        from hooqu_spark.lineage import metrics_by_group

        df = _t(spark, sf_dir, "lineitem")
        per = metrics_by_group(df, [Size(), Mean("l_quantity")], "l_returnflag")
        rows = []
        for group, metrics in per.items():
            by_name = {m.name: m.value.get() for m in metrics.values()}
            rows.append(
                (group, float(by_name["Size"]), round(by_name["Mean"], 6))
            )
        return spark.createDataFrame(
            rows, "l_returnflag string, n double, mean_qty double"
        )

    def numeric_histogram_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hooqu_spark import numeric_histogram

        df = _t(spark, sf_dir, "lineitem")
        out = numeric_histogram(df, "l_extendedprice", n_bins=10)
        return out.select(
            "bin",
            F.round("lo", 6).alias("lo"),
            F.round("hi", 6).alias("hi"),
            "count",
        )

    def salted_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Skew-safe two-phase groupBy (hot keys split across salts,
        # partial counts merged); must equal the plain GROUP BY.
        # FUSED (round 5): also grades cap_per_key — the skew-safe
        # two-phase top-n — by aggregating its survivors (count +
        # distinct users among the first 400 events per type by
        # event_id).  The oracle replays the cap as a plain
        # row_number() window; fusing keeps the contract within the
        # driver's 50-query grading cap.
        from hooqu_spark.ops import cap_per_key, salted_counts

        df = _t(spark, sf_dir, "events")
        counts = salted_counts(df, ["event_type"], n_salts=16)
        capped = (
            cap_per_key(df, ["event_type"], 400, ["event_id"])
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("capped_n"),
                F.count_distinct("user_id").alias("capped_users"),
            )
        )
        return counts.join(capped, "event_type").select(
            "event_type",
            F.col("count").alias("n"),
            "capped_n",
            "capped_users",
        )

    def salted_distinct_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Skew-safe two-phase DISTINCT counting (value-stable salt);
        # must equal the plain count(distinct) per key.
        from hooqu_spark.ops import salted_distinct_counts

        df = _t(spark, sf_dir, "events")
        return salted_distinct_counts(
            df, ["event_type"], "user_id", n_salts=16
        ).select(
            "event_type", F.col("n_distinct").cast("long").alias("n_distinct")
        )

    def quality_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Exercises the pipeline's single-pass Arrow UDF (langid +
        # perplexity + heuristics); the SQL-expressible features are
        # oracle-checked (n_chars, whitespace n_words).
        from hooqu_spark.pipeline.core import enrich

        df = _t(spark, sf_dir, "documents").select("doc_id", "text")
        out = enrich(df)
        return out.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("n_words").cast("long").alias("n_words"),
        )

    def langid_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Predicted language (lexicon scorer inside the single-pass
        # Arrow UDF; fastText-compatible interface).  The fallback
        # scorer is deterministic lexicon arithmetic, so it IS
        # SQL-expressible — oracled against DuckDB with the lexicons
        # inlined as a VALUES relation.
        from hooqu_spark.pipeline.core import enrich

        df = _t(spark, sf_dir, "documents").select("doc_id", "text")
        return enrich(df).select("doc_id", "lang_pred", "lang_score")

    def near_dup_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # LSH-bucketed embedding near-duplicate pairs.  The md5-derived
        # ±1 hyperplanes + left-fold projection sums (similarity._lsh_fold)
        # make the bucketing bit-replayable in DuckDB, so this is
        # fully hash-graded; cosine rounded to
        # 6 BEFORE thresholding (cross-engine borderline stability,
        # same contract as cosine_pairs_embeddings).
        from hooqu_spark.ops import embedding_near_duplicates

        emb = _t(spark, sf_dir, "embeddings").withColumn(
            "e", F.col("embedding").cast("array<double>")
        )
        return embedding_near_duplicates(
            emb,
            id_col="vec_id",
            vec_col="e",
            threshold=0.3,
            n_planes=3,
            round_to=6,
        ).select("id_a", "id_b", "cosine")

    def sessions_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Native session-window sessionization (ONE shuffle on the
        # user key; Spark merges touching windows, so the oracle's
        # gaps-and-islands replay uses a STRICT `> gap` island break).
        # Timestamps exported as formatted strings: engine-portable
        # (pandas datetime64[ns] vs [us] would dtype-mismatch).
        # date_format renders in spark.sql.session.timeZone, while the
        # DuckDB oracle's strftime prints the parquet UTC wall time —
        # pin UTC so the contract holds on non-UTC driver hosts too.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        from hooqu_spark.ops import sessionize

        df = _t(spark, sf_dir, "events")
        s = sessionize(df, "user_id", "ts", gap="4 hours")
        fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        return s.select(
            "user_id",
            F.date_format("session_start", fmt).alias("session_start"),
            F.date_format("session_end", fmt).alias("session_end"),
            "n_events",
            "session_micros",
        )

    def session_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Per-user rollup over the session table — the second groupBy
        # keys on the user alone, so it reuses the session shuffle's
        # hashpartitioning(user) without a second exchange.
        from hooqu_spark.ops import session_stats

        df = _t(spark, sf_dir, "events")
        s = session_stats(df, "user_id", "ts", gap="4 hours")
        # exported in SECONDS: round(x, 6) at the raw micros magnitude
        # (~1e9) sits below one double ulp, so the 6-decimal contract
        # would flake on last-ulp engine differences; at seconds
        # magnitude (~4e3) six decimals are exactly representable
        return s.select(
            "user_id",
            "n_sessions",
            "total_events",
            F.round(F.col("avg_session_micros") / F.lit(1e6), 6).alias(
                "avg_session_seconds"
            ),
        )

    def asof_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Point-in-time enrichment: each event joined to the user's
        # most recent purchase at-or-before it (union-window form, ONE
        # key shuffle, no join node).  The oracle replays it with
        # DuckDB's NATIVE ASOF JOIN — two independent as-of
        # implementations cross-verified value-for-value.  Right side
        # pre-deduped per (user, ts): equal-ts rows are ambiguous in
        # any as-of engine.
        # Pin UTC: date_format renders in the session timezone; the
        # oracle prints the parquet UTC wall time (see sessions_query).
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        from hooqu_spark.ops import asof_join

        ev = _t(spark, sf_dir, "events").where(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        )
        left = ev.select("event_id", "user_id", "ts")
        right = (
            ev.where(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("last_purchase"))
        )
        out = asof_join(left, right, ["user_id"], ts_col="ts")
        fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        return out.select(
            "event_id",
            "user_id",
            F.date_format("matched_ts_asof", fmt).alias("matched_ts"),
            F.col("last_purchase_asof").alias("last_purchase"),
        )

    def canonical_url_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # URL canonicalization over deterministic synthetic URLs derived
        # from event_id (testdata has no url column): exercises fragment
        # strip, scheme/host lowercasing, default-port removal and
        # trailing-slash stripping; oracle replays the identical regex
        # pipeline in DuckDB.
        from hooqu_spark.ops import canonicalize_urls

        e = F.col("event_id")
        url = F.concat(
            F.lit("HTTPS://Host"),
            (e % 7).cast("string"),
            F.lit(".Example.COM"),
            F.when(e % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/Path/"),
            e.cast("string"),
            F.when(e % 4 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(e % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
        )
        df = _t(spark, sf_dir, "events").select("event_id").withColumn(
            "url", url
        )
        return canonicalize_urls(df).select(
            "event_id", "canonical_url", "host"
        )

    def line_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # C4/CCNet-style boilerplate removal: drop lines occurring > 2
        # times corpus-wide, rebuild docs in line order.
        from hooqu_spark.ops import dedup_lines_by_frequency

        df = _t(spark, sf_dir, "documents").select("doc_id", "text")
        out = dedup_lines_by_frequency(df, "doc_id", max_occurrences=2)
        return out.select(
            "doc_id", "text", F.col("n_lines_removed").cast("long").alias("n_lines_removed")
        )

    def stratified_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Deterministic md5-hash stratified sampling (engine-portable:
        # the oracle reproduces the exact same keep set in DuckDB).
        from hooqu_spark.ops import stratified_sample

        df = _t(spark, sf_dir, "documents")
        out = stratified_sample(
            df, "lang", {"en": 0.5, "de": 0.25}, "doc_id"
        )
        return out.select("doc_id", "lang")

    def contamination_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Benchmark decontamination: docs 0-4 act as the "eval set";
        # overlap = distinct shared 3-gram shingles (broadcast join).
        from hooqu_spark.ops import flag_contamination

        df = _t(spark, sf_dir, "documents").select("doc_id", "text")
        bench = df.where(F.col("doc_id") < 5)
        return flag_contamination(df, bench, "doc_id", min_overlap=5)

    def media_metadata_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Multimodal binary plumbing end-to-end on a REAL binary column:
        # a deterministic payload is synthesized from each document
        # (html wrapper for every 3rd doc), then the mapInPandas decode
        # stage attaches typed metadata.  n_bytes (octet length) and the
        # magic-sniffed format are SQL-expressible -> oracled; the
        # stubbed decode's width/height are covered by pytest.
        from hooqu_spark.ops.multimodal import attach_binary_metadata

        df = _t(spark, sf_dir, "documents").select("doc_id", "text")
        text = F.coalesce(F.col("text"), F.lit(""))
        payload = F.when(
            F.col("doc_id") % 3 == 0,
            F.encode(
                F.concat(
                    F.lit("<html><body>"), text, F.lit("</body></html>")
                ),
                "utf-8",
            ),
        ).otherwise(F.encode(text, "utf-8"))
        with_bin = df.withColumn("payload", payload)
        out = attach_binary_metadata(with_bin, "payload")
        return out.select(
            "doc_id",
            F.col("media_meta.n_bytes").alias("n_bytes"),
            F.col("media_meta.format").alias("format"),
        )

    def semdedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # SemDeDup-style semantic dedup, graded in its exhaustive
        # exact configuration (n_clusters=1: one block, recall 1.0 —
        # the ivf_topk full-probe pattern); the oracle replays the
        # cosine pairs + recursive min-id closure.  Clustered-blocking
        # recall and the centroid_far survivor policy are pytest-
        # covered (tests/test_ops.py::TestSemanticDedup).
        from hooqu_spark.ops import semantic_dedup

        emb = _t(spark, sf_dir, "embeddings").withColumn(
            "e", F.col("embedding").cast("array<double>")
        )
        return semantic_dedup(
            emb,
            id_col="vec_id",
            vec_col="e",
            n_clusters=1,
            threshold=0.4,
            round_to=6,
        ).select("vec_id")

    def fingerprints_md5_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Engine-portable fingerprint mode: 64 bits from the first 16
        # md5 hex chars -> DuckDB replays both fingerprints exactly.
        # FUSED (round 5): also grades dedup_against — the rows kept
        # are the survivors of an incremental dedup against an
        # "already ingested" reference slice (doc_id % 7 == 0) keyed
        # on fp_exact; the oracle replays it with NOT EXISTS (the
        # null-unsafe anti-join semantics: NULL-fingerprint rows
        # always survive).
        from hooqu_spark.ops import dedup_against, document_fingerprints

        df = _t(spark, sf_dir, "documents")
        fps = document_fingerprints(df, hash="md5").select(
            "doc_id", "fp_exact", "fp_prefix"
        )
        reference = fps.where(F.col("doc_id") % 7 == 0)
        return dedup_against(
            fps, reference, ["fp_exact"], broadcast_reference=True
        )

    def ngram_jaccard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Exact-candidate mode (AllPairs prefix-filter index, recall
        # 1.0) -> survivor set is fully SQL-expressible and oracled.
        from hooqu_spark.ops import ngram_jaccard_dedup

        df = _t(spark, sf_dir, "documents")
        return ngram_jaccard_dedup(df, "doc_id", threshold=0.8).select("doc_id")

    def jaccard_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Exact n-gram Jaccard set-similarity self-join (id_a < id_b),
        # prefix-filtered candidate generation, JVM-side verify.
        from hooqu_spark.ops import jaccard_similar_pairs

        df = _t(spark, sf_dir, "documents")
        return jaccard_similar_pairs(df, "doc_id", threshold=0.8).select(
            "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
        )

    def minhash_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # md5-keyed signatures + banded LSH: the survivor set is fully
        # reproducible in DuckDB (the oracle replays the 64 universal
        # hashes, the 16-band agreement rule and the >= 0.7 estimated
        # Jaccard drop) -> hash-verified.
        from hooqu_spark.ops import minhash_dedup

        df = _t(spark, sf_dir, "documents")
        return minhash_dedup(df, "doc_id", threshold=0.7).select("doc_id")

    def minhash_signatures_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Raw 64-component signatures, posexploded so the value hash
        # covers every component of every doc.
        from hooqu_spark.ops import minhash_signatures

        df = _t(spark, sf_dir, "documents")
        sigs = minhash_signatures(df, "doc_id")
        return sigs.select(
            F.col("id").alias("doc_id"),
            F.posexplode("signature").alias("pos", "h"),
        ).select("doc_id", F.col("pos").cast("long").alias("pos"), "h")

    def minhash_cluster_dedup_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        # TRANSITIVE survivor policy: connected components over the
        # similar-pair graph (O(log n) star scheme), one smallest-id
        # survivor per component.  The oracle replays the same pair
        # table (64 universal hashes + banding + >= 0.7 agreement) and
        # closes it with a DuckDB WITH RECURSIVE reachability CTE, so
        # the component collapse itself is hash-verified.
        from hooqu_spark.ops import minhash_dedup_clusters

        df = _t(spark, sf_dir, "documents")
        return minhash_dedup_clusters(df, "doc_id", threshold=0.7).select(
            "doc_id"
        )

    def span_dedup_query(mode: str):
        # Substring-level exact dedup (Lee et al. ExactSubstr family,
        # span approximation): every repeated 8-token span removed from
        # all but its first (id, position) occurrence, text rebuilt
        # from surviving spans.  "tile" = fixed non-overlapping tiles;
        # "cdc" = content-defined chunk boundaries (md5-hash % 8 == 0),
        # alignment-robust.  Both replayed verbatim in DuckDB.
        def q(spark: SparkSession, sf_dir: str) -> DataFrame:
            from hooqu_spark.ops import repeated_span_dedup

            df = _t(spark, sf_dir, "documents")
            return repeated_span_dedup(
                df, "doc_id", span_tokens=8, mode=mode, cdc_divisor=8
            )

        return q

    def simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # md5-keyed bit votes -> DuckDB replays the exact signature.
        from hooqu_spark.ops import simhash_signatures

        df = _t(spark, sf_dir, "documents")
        return simhash_signatures(df, "doc_id").withColumnRenamed("id", "doc_id")

    def simhash_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Full dedup survivor set: 4x16-bit pigeonhole buckets +
        # hamming<=3 verify, all replayed in the DuckDB oracle
        # (chunk equality via HUGEINT arithmetic, hamming via
        # bit_count(xor) on the signed signatures).
        from hooqu_spark.ops import simhash_dedup

        df = _t(spark, sf_dir, "documents")
        return simhash_dedup(df, "doc_id").select("doc_id")

    def cosine_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Exact all-pairs cosine join (recall 1.0): the oracle-able
        # complement to the LSH near_dup_pairs query — hash-verifies
        # the cosine arithmetic the LSH verify step shares.  Both
        # engines threshold on the ROUND(cos, 6) value so borderline
        # decisions cannot diverge on last-ulp float differences.
        from hooqu_spark.ops import cosine_similar_pairs

        emb = _t(spark, sf_dir, "embeddings").withColumn(
            "e", F.col("embedding").cast("array<double>")
        )
        return cosine_similar_pairs(
            emb, id_col="vec_id", vec_col="e", threshold=0.3, round_to=6
        )

    return {
        # -- hooqu analyzer surface (SURVEY.md §2a) --
        # The 12 former per-analyzer standalone queries (r1-r3 names:
        # size_lineitem, minimum/maximum/sum_l_quantity,
        # mean_l_extendedprice, stddev_pop_l_discount,
        # quantile_nearest_l_quantity, minimum_l_quantity_filtered,
        # completeness_documents_text, min/max_length_documents_text,
        # pattern_match_spark_documents — all hash-green in
        # CORRECTNESS_r03) now grade through TWO fused single-scan
        # runs, one aliased column per analyzer.  This is the shape
        # the engine actually executes (VerificationSuite fuses all
        # scalar analyzers into one df.agg), and it keeps the full
        # contract inside the driver's 50-query grading cap.
        "analyzers_fused_lineitem": fused_analyzers_query(
            "lineitem",
            [
                ("size_value", Size(), None),
                ("min_qty", Minimum("l_quantity"), None),
                ("max_qty", Maximum("l_quantity"), None),
                ("sum_qty", Sum("l_quantity"), None),
                ("mean_price", Mean("l_extendedprice"), 4),
                ("stddev_discount", StandardDeviation("l_discount"), 6),
                ("median_qty", Quantile("l_quantity", 0.5), None),
                (
                    "min_qty_filtered",
                    Minimum("l_quantity", where="l_returnflag == 'A'"),
                    None,
                ),
            ],
        ),
        "analyzers_fused_documents": fused_analyzers_query(
            "documents",
            [
                ("completeness", Completeness("text"), None),
                ("min_len", MinLength("text"), None),
                ("max_len", MaxLength("text"), None),
                ("match_frac", PatternMatch("text", r"\bspark\b"), None),
            ],
        ),
        "compliance_purchase_value": compliance_query,
        # -- grouping analyzers (§2a frequency family) --
        "uniqueness_orders_custkey": uniqueness_query(
            "orders", ["o_custkey"], "uniqueness"
        ),
        "uniqueness_lineitem_pk": uniqueness_query(
            "lineitem", ["l_orderkey", "l_linenumber"], "uniqueness"
        ),
        "distinctness_orders_custkey": distinctness_query,
        "count_distinct_part_brand": count_distinct_query,
        "entropy_events_type": entropy_query,
        "frequencies_events_type": frequencies_query,
        "unique_value_ratio_orders_custkey": unique_value_ratio_query,
        "histogram_lineitem_returnflag": histogram_query,
        "mutual_information_orders": mutual_information_query,
        # -- multi-column / typed extensions --
        "correlation_lineitem_qty_price": correlation_query,
        "data_type_histogram_events": data_type_query,
        "has_data_type_check_events": has_data_type_query,
        # -- training-data ops --
        "dedup_exact_documents": dedup_exact_query,
        "token_count_documents": token_count_query,
        "language_distribution_documents": lang_distribution_query,
        "profile_columns_orders": profile_query,
        "numeric_histogram_lineitem_price": numeric_histogram_query,
        "custom_sql_price_range": custom_sql_query,
        "metrics_by_group_returnflag": metrics_by_group_query,
        "token_budget_sample_documents": token_budget_query,
        "quality_features_documents": quality_features_query,
        "salted_counts_events_type": salted_counts_query,
        "salted_distinct_events_user": salted_distinct_query,
        "topk_cosine_embeddings": topk_cosine_query,
        "ivf_topk_embeddings": ivf_topk_query,
        "minhash_dedup_documents": minhash_dedup_query,
        "minhash_signatures_documents": minhash_signatures_query,
        "minhash_cluster_dedup_documents": minhash_cluster_dedup_query,
        "span_dedup_documents": span_dedup_query("tile"),
        "span_dedup_cdc_documents": span_dedup_query("cdc"),
        "simhash_signatures_documents": simhash_query,
        "simhash_dedup_documents": simhash_dedup_query,
        "cosine_pairs_embeddings": cosine_pairs_query,
        "media_metadata_documents": media_metadata_query,
        # round 5: the rows-only xxhash64 fingerprint twin left the
        # contract (its construction stays hash-verified via the md5
        # mode below and pytest-covered for xxhash64) to free the slot
        # for semdedup_embeddings — every graded query now has a full
        # value-hash oracle.
        "semdedup_embeddings": semdedup_query,
        "fingerprints_md5_documents": fingerprints_md5_query,
        "ngram_jaccard_dedup_documents": ngram_jaccard_query,
        "jaccard_pairs_documents": jaccard_pairs_query,
        "canonical_urls_events": canonical_url_query,
        "sessions_events": sessions_query,
        "session_stats_events": session_stats_query,
        "asof_join_events": asof_join_query,
        "line_dedup_documents": line_dedup_query,
        "stratified_sample_documents": stratified_sample_query,
        "contamination_documents": contamination_query,
        "langid_documents": langid_query,
        "near_dup_pairs_embeddings": near_dup_pairs_query,
    }


def oracle_sql() -> dict[str, str]:
    from hooqu_spark.ops.text import BPE_TOKEN_PATTERN

    _BPE_PATTERN_SQL = BPE_TOKEN_PATTERN.replace("'", "''")
    # n-gram Jaccard shingle CTE shared by the pairs and dedup oracles:
    # tokens = non-empty chunks of a whitespace split; docs shorter
    # than 3 words contribute their full text as the single shingle
    # (mirrors hooqu_spark.ops.dedup._shingles_of_words over _words_of).
    shingle_cte = (
        "WITH w AS (SELECT doc_id,"
        " list_filter(regexp_split_to_array(coalesce(text,''), '\\s+'),"
        " x -> x <> '') AS wds FROM documents),"
        " d AS (SELECT doc_id,"
        " CASE WHEN len(wds) < 3 THEN [array_to_string(wds, ' ')]"
        " ELSE list_distinct([array_to_string(wds[i:i+2], ' ')"
        " for i in range(1, len(wds)-1)]) END AS sh FROM w)"
    )
    jaccard_expr = (
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
        " / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"
    )
    # MinHash signature CTE: replays hooqu_spark.ops.dedup exactly —
    # 32-bit md5-derived shingle hash, then the seeded universal-hash
    # family (a_i < 2^30 keeps a_i*h + b_i < 2^63: exact in Spark's
    # signed long AND DuckDB's UBIGINT).
    from hooqu_spark.ops.dedup import _MERSENNE, _minhash_params

    _a, _b = _minhash_params(64)
    sig_items = ", ".join(
        f"list_min(list_transform(h, x -> ({int(_a[i])}::UBIGINT * x"
        f" + {int(_b[i])}::UBIGINT) % {_MERSENNE}::UBIGINT))"
        for i in range(64)
    )
    minhash_sig_cte = (
        f"{shingle_cte},"
        " hh AS (SELECT doc_id, list_transform(sh, s ->"
        " ('0x' || substr(md5(s),1,8))::UBIGINT) AS h FROM d),"
        f" sig AS (SELECT doc_id, [{sig_items}] AS sg FROM hh)"
    )
    # Sign-LSH bucket replay for near_dup_pairs_embeddings: md5-derived
    # ±1 planes (hooqu_spark.ops.similarity._projection_planes, 64-dim
    # embeddings, 3 planes, seed 13), each projection an explicitly
    # parenthesized left-associated sum — the exact IEEE-double
    # addition order of similarity._lsh_fold, so the bucket signs agree
    # bit-for-bit (x * ±1.0 is exact).
    from hooqu_spark.ops.similarity import _projection_planes

    _pl = _projection_planes(64, 3, seed=13)

    def _lsh_dot(j: int) -> str:
        expr = f"(e[1] * {_pl[0, j]:.1f})"
        for i in range(1, 64):
            expr = f"({expr} + (e[{i + 1}] * {_pl[i, j]:.1f}))"
        return expr

    lsh_bucket_sql = " + ".join(
        f"(CASE WHEN {_lsh_dot(j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(3)
    )
    # LSH banding: Spark buckets on xxhash64 of each 4-component slice;
    # slice-hash equality == slice equality (modulo a ~2^-64 collision),
    # so the oracle compares the slices directly.
    band_or = " OR ".join(
        f"sa[{4 * j + 1}:{4 * j + 4}] = sb[{4 * j + 1}:{4 * j + 4}]"
        for j in range(16)
    )
    agree_sum = " + ".join(
        f"CASE WHEN sa[{i}] = sb[{i}] THEN 1 ELSE 0 END"
        for i in range(1, 65)
    )
    # SimHash: per-token 64-bit hash = md5 hex chars 1-8 (bits 0-31) |
    # chars 9-16 (bits 32-63); bit set iff a strict majority of tokens
    # (with multiplicity) has it set.
    simhash_bit_sums = ", ".join(
        f"sum((h{1 if i < 32 else 2} >> {i % 32}) & 1) AS c{i}"
        for i in range(64)
    )
    simhash_value = " + ".join(
        f"CASE WHEN 2*c{i} > n THEN {1 << i}::HUGEINT ELSE 0::HUGEINT END"
        for i in range(64)
    )
    # shared CTE chain computing each doc's unsigned (us) and signed
    # (sig) simhash — used by both the signature and the dedup oracle
    simhash_cte = (
        "WITH w AS (SELECT doc_id,"
        " list_filter(regexp_split_to_array(coalesce(text,''),"
        " '\\s+'), x -> x <> '') AS ws FROM documents),"
        " tok AS (SELECT doc_id, unnest(ws) AS wd FROM w),"
        " th AS (SELECT doc_id,"
        " ('0x' || substr(md5(wd),1,8))::UBIGINT AS h1,"
        " ('0x' || substr(md5(wd),9,8))::UBIGINT AS h2 FROM tok),"
        f" c AS (SELECT doc_id, count(*) AS n, {simhash_bit_sums}"
        " FROM th GROUP BY doc_id),"
        f" s AS (SELECT doc_id, ({simhash_value}) AS us FROM c),"
        " sg AS (SELECT d.doc_id, coalesce(s.us, 0::HUGEINT) AS us,"
        " CAST(coalesce(CASE WHEN s.us >= 9223372036854775808::HUGEINT"
        " THEN s.us - 18446744073709551616::HUGEINT ELSE s.us END, 0)"
        " AS BIGINT) AS sig FROM documents d LEFT JOIN s USING (doc_id))"
    )
    simhash_chunk_or = " OR ".join(
        f"((a.us // {1 << (16 * k)}::HUGEINT) % 65536)"
        f" = ((b.us // {1 << (16 * k)}::HUGEINT) % 65536)"
        for k in range(4)
    )
    # langid oracle: the (small) lexicons inlined as a VALUES relation;
    # scoring is occurrence-count membership per language, argmax with
    # alphabetical tie-break, 'und' when no lexicon word matches.
    from hooqu_spark.pipeline.spec import LEXICONS

    lex_values = ", ".join(
        f"('{lang}', '{w}')"
        for lang in sorted(LEXICONS)
        for w in LEXICONS[lang]
    )
    langid_oracle = (
        "WITH w AS (SELECT doc_id,"
        " list_filter(regexp_split_to_array(lower(coalesce(text,'')),"
        " '\\s+'), x -> x <> '') AS ws FROM documents),"
        " tok AS (SELECT doc_id, unnest(ws) AS wd FROM w),"
        f" lex(lang, wd) AS (VALUES {lex_values}),"
        " counts AS (SELECT t.doc_id, l.lang, count(*) AS c"
        " FROM tok t JOIN lex l ON t.wd = l.wd GROUP BY 1, 2),"
        " best AS (SELECT doc_id, lang, c, row_number() OVER"
        " (PARTITION BY doc_id ORDER BY c DESC, lang ASC) rn FROM counts)"
        " SELECT w.doc_id,"
        " CASE WHEN b.c IS NULL THEN 'und' ELSE b.lang END AS lang_pred,"
        " CASE WHEN b.c IS NULL THEN 0.0"
        " ELSE CAST(b.c AS DOUBLE) / len(w.ws) END AS lang_score"
        " FROM w LEFT JOIN (SELECT * FROM best WHERE rn = 1) b"
        " USING (doc_id)"
    )
    return {
        "jaccard_pairs_documents": (
            f"{shingle_cte}"
            " SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
            f" round({jaccard_expr}, 6) AS jaccard"
            " FROM d a JOIN d b ON a.doc_id < b.doc_id"
            f" WHERE {jaccard_expr} >= 0.8"
        ),
        "ngram_jaccard_dedup_documents": (
            f"{shingle_cte}"
            " SELECT doc_id FROM documents WHERE doc_id NOT IN ("
            "SELECT b.doc_id FROM d a JOIN d b ON a.doc_id < b.doc_id"
            f" WHERE {jaccard_expr} >= 0.8)"
        ),
        "langid_documents": langid_oracle,
        # gaps-and-islands replay of the native session window; Spark
        # merges TOUCHING windows, hence the STRICT `> INTERVAL` break
        "sessions_events": (
            "WITH e AS (SELECT user_id, ts FROM events"
            " WHERE user_id IS NOT NULL AND ts IS NOT NULL),"
            " s AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL"
            " OR ts - lag(ts) OVER w > INTERVAL 4 HOUR THEN 1 ELSE 0 END"
            " AS ns FROM e WINDOW w AS"
            " (PARTITION BY user_id ORDER BY ts)),"
            " g AS (SELECT user_id, ts, sum(ns) OVER"
            " (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)"
            " AS sid FROM s)"
            " SELECT user_id,"
            " strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,"
            " strftime(max(ts) + INTERVAL 4 HOUR, '%Y-%m-%d %H:%M:%S.%f')"
            " AS session_end,"
            " CAST(count(*) AS BIGINT) AS n_events,"
            " epoch_us(max(ts)) - epoch_us(min(ts)) AS session_micros"
            " FROM g GROUP BY user_id, sid"
        ),
        "session_stats_events": (
            "WITH e AS (SELECT user_id, ts FROM events"
            " WHERE user_id IS NOT NULL AND ts IS NOT NULL),"
            " s AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL"
            " OR ts - lag(ts) OVER w > INTERVAL 4 HOUR THEN 1 ELSE 0 END"
            " AS ns FROM e WINDOW w AS"
            " (PARTITION BY user_id ORDER BY ts)),"
            " g AS (SELECT user_id, ts, sum(ns) OVER"
            " (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)"
            " AS sid FROM s),"
            " r AS (SELECT user_id,"
            " epoch_us(max(ts)) - epoch_us(min(ts)) AS session_micros,"
            " count(*) AS n FROM g GROUP BY user_id, sid)"
            " SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,"
            " CAST(sum(n) AS BIGINT) AS total_events,"
            " round(avg(CAST(session_micros AS DOUBLE)) / 1e6, 6)"
            " AS avg_session_seconds FROM r GROUP BY user_id"
        ),
        # native ASOF JOIN replay of the union-window as-of operator
        "asof_join_events": (
            "WITH l AS (SELECT event_id, user_id, ts FROM events"
            " WHERE user_id IS NOT NULL AND ts IS NOT NULL),"
            " r AS (SELECT user_id, ts, max(value) AS last_purchase"
            " FROM events WHERE event_type = 'purchase'"
            " AND user_id IS NOT NULL AND ts IS NOT NULL"
            " GROUP BY user_id, ts)"
            " SELECT l.event_id, l.user_id,"
            " strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS matched_ts,"
            " r.last_purchase"
            " FROM l ASOF LEFT JOIN r"
            " ON l.user_id = r.user_id AND l.ts >= r.ts"
        ),
        "canonical_urls_events": (
            "WITH u0 AS (SELECT event_id,"
            " 'HTTPS://Host' || CAST(event_id % 7 AS VARCHAR)"
            " || '.Example.COM'"
            " || (CASE WHEN event_id % 3 = 0 THEN ':443' ELSE '' END)"
            " || '/Path/' || CAST(event_id AS VARCHAR)"
            " || (CASE WHEN event_id % 4 = 0 THEN '/' ELSE '' END)"
            " || (CASE WHEN event_id % 5 = 0 THEN '#frag' ELSE '' END)"
            " AS url FROM events),"
            " s1 AS (SELECT event_id, url,"
            " regexp_replace(url, '#.*$', '') AS u FROM u0),"
            " s2 AS (SELECT event_id, url,"
            " lower(regexp_extract(u,"
            " '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))"
            " || substr(u, length(regexp_extract(u,"
            " '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) + 1) AS u"
            " FROM s1),"
            " s3 AS (SELECT event_id, url, regexp_replace(regexp_replace(u,"
            " '^(https://[^/:?#]*):443($|[/?#])', '\\1\\2'),"
            " '^(http://[^/:?#]*):80($|[/?#])', '\\1\\2') AS u FROM s2),"
            " s4 AS (SELECT event_id, url,"
            " regexp_replace(u, '/+$', '') AS u FROM s3)"
            " SELECT event_id, u AS canonical_url,"
            " lower(regexp_extract(url,"
            " '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1))"
            " AS host FROM s4"
        ),
        "line_dedup_documents": (
            "WITH ls AS (SELECT doc_id,"
            " string_split(coalesce(text,''), chr(10)) AS arr FROM documents),"
            " ex AS (SELECT doc_id, unnest([{'ord': i, 'line': arr[i]}"
            " for i in range(1, len(arr)+1)]) AS u FROM ls),"
            " l AS (SELECT doc_id, u.ord AS ord, u.line AS line FROM ex),"
            " f AS (SELECT line FROM l WHERE length(line) >= 1"
            " GROUP BY line HAVING count(*) > 2),"
            " kept AS (SELECT l.doc_id, l.ord, l.line FROM l"
            " WHERE l.line NOT IN (SELECT line FROM f)),"
            " r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY ord)"
            " AS new_text, count(*) AS n_kept FROM kept GROUP BY doc_id)"
            " SELECT ls.doc_id, coalesce(r.new_text, '') AS text,"
            " len(ls.arr) - coalesce(r.n_kept, 0) AS n_lines_removed"
            " FROM ls LEFT JOIN r USING (doc_id)"
        ),
        "stratified_sample_documents": (
            # identical md5-derived uniform hash as the Spark op
            "SELECT doc_id, lang FROM documents"
            " WHERE (lang = 'en' AND ('0x' ||"
            " substr(md5(CAST(doc_id AS VARCHAR)),1,8))::UBIGINT"
            " < CAST(0.5 * 4294967296 AS UBIGINT))"
            " OR (lang = 'de' AND ('0x' ||"
            " substr(md5(CAST(doc_id AS VARCHAR)),1,8))::UBIGINT"
            " < CAST(0.25 * 4294967296 AS UBIGINT))"
        ),
        "contamination_documents": (
            f"{shingle_cte},"
            " b AS (SELECT DISTINCT t.s FROM"
            " (SELECT unnest(sh) AS s FROM d WHERE doc_id < 5) t),"
            " ov AS (SELECT t.doc_id, count(*) AS n_overlap FROM"
            " (SELECT doc_id, unnest(sh) AS s FROM d) t"
            " JOIN b ON t.s = b.s GROUP BY t.doc_id)"
            " SELECT d.doc_id, coalesce(ov.n_overlap, 0) AS n_overlap,"
            " coalesce(ov.n_overlap, 0) >= 5 AS contaminated"
            " FROM d LEFT JOIN ov USING (doc_id)"
        ),
        "media_metadata_documents": (
            # payload construction mirrored exactly; the html wrapper
            # trips the '<htm' magic in the sniffer, plain text does not
            "SELECT doc_id,"
            " CAST(CASE WHEN doc_id % 3 = 0 THEN octet_length(encode("
            "'<html><body>' || coalesce(text, '') || '</body></html>'))"
            " ELSE octet_length(encode(coalesce(text, ''))) END AS INTEGER)"
            " AS n_bytes,"
            " CASE WHEN doc_id % 3 = 0 THEN 'html' ELSE 'unknown' END"
            " AS format FROM documents"
        ),
        "analyzers_fused_lineitem": (
            # one aggregate row mirroring the fused single-scan run;
            # quantile: nearest-rank median == discrete quantile here
            "SELECT CAST(count(*) AS DOUBLE) AS size_value,"
            " CAST(min(l_quantity) AS DOUBLE) AS min_qty,"
            " CAST(max(l_quantity) AS DOUBLE) AS max_qty,"
            " CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,"
            " round(avg(l_extendedprice), 4) AS mean_price,"
            " round(stddev_pop(l_discount), 6) AS stddev_discount,"
            " CAST(quantile_disc(l_quantity, 0.5) AS DOUBLE) AS median_qty,"
            " CAST(min(CASE WHEN l_returnflag = 'A' THEN l_quantity END)"
            " AS DOUBLE) AS min_qty_filtered"
            " FROM lineitem"
        ),
        "analyzers_fused_documents": (
            "SELECT CAST(count(text) AS DOUBLE)/count(*) AS completeness,"
            " CAST(min(length(text)) AS DOUBLE) AS min_len,"
            " CAST(max(length(text)) AS DOUBLE) AS max_len,"
            " CAST(sum(CASE WHEN regexp_matches(text, '\\bspark\\b')"
            " THEN 1 ELSE 0 END) AS DOUBLE)/count(*) AS match_frac"
            " FROM documents"
        ),
        "compliance_purchase_value": (
            "SELECT CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS DOUBLE)"
            "/count(*) AS frac FROM events WHERE event_type = 'purchase'"
        ),
        "uniqueness_orders_custkey": (
            "SELECT CAST(sum(CASE WHEN c=1 THEN 1 ELSE 0 END) AS DOUBLE)/sum(c)"
            " AS uniqueness FROM (SELECT count(*) c FROM orders"
            " WHERE o_custkey IS NOT NULL GROUP BY o_custkey)"
        ),
        "uniqueness_lineitem_pk": (
            "SELECT CAST(sum(CASE WHEN c=1 THEN 1 ELSE 0 END) AS DOUBLE)/sum(c)"
            " AS uniqueness FROM (SELECT count(*) c FROM lineitem"
            " WHERE l_orderkey IS NOT NULL OR l_linenumber IS NOT NULL"
            " GROUP BY l_orderkey, l_linenumber)"
        ),
        "distinctness_orders_custkey": (
            "SELECT CAST(count(*) AS DOUBLE)/sum(c) AS distinctness"
            " FROM (SELECT count(*) c FROM orders WHERE o_custkey IS NOT NULL"
            " GROUP BY o_custkey)"
        ),
        "count_distinct_part_brand": (
            "SELECT CAST(count(DISTINCT p_brand) AS DOUBLE) AS n_brands FROM part"
        ),
        "entropy_events_type": (
            "SELECT round(ln(sum(c)) - sum(c*ln(c))/sum(c), 6) AS entropy"
            " FROM (SELECT CAST(count(*) AS DOUBLE) c FROM events"
            " WHERE event_type IS NOT NULL GROUP BY event_type)"
        ),
        "frequencies_events_type": (
            "SELECT event_type, count(*) AS n FROM events"
            " WHERE event_type IS NOT NULL GROUP BY event_type"
        ),
        "unique_value_ratio_orders_custkey": (
            "SELECT CAST(sum(CASE WHEN c=1 THEN 1 ELSE 0 END) AS DOUBLE)"
            "/count(*) AS uvr FROM (SELECT count(*) c FROM orders"
            " WHERE o_custkey IS NOT NULL GROUP BY o_custkey)"
        ),
        "histogram_lineitem_returnflag": (
            "SELECT l_returnflag AS value, count(*) AS count,"
            " round(CAST(count(*) AS DOUBLE)"
            "/(SELECT count(*) FROM lineitem WHERE l_returnflag IS NOT NULL), 6)"
            " AS ratio FROM lineitem WHERE l_returnflag IS NOT NULL"
            " GROUP BY l_returnflag ORDER BY count DESC, value"
        ),
        "mutual_information_orders": (
            "WITH f AS (SELECT o_orderstatus x, o_orderpriority y,"
            " CAST(count(*) AS DOUBLE) c FROM orders"
            " WHERE o_orderstatus IS NOT NULL OR o_orderpriority IS NOT NULL"
            " GROUP BY 1, 2),"
            " w AS (SELECT c, sum(c) OVER (PARTITION BY x) cx,"
            " sum(c) OVER (PARTITION BY y) cy, sum(c) OVER () t FROM f)"
            " SELECT round(sum((c/t) * ln(c*t/(cx*cy))), 6) AS mi FROM w"
        ),
        "correlation_lineitem_qty_price": (
            "SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr"
            " FROM lineitem"
        ),
        "data_type_histogram_events": (
            "WITH d AS (SELECT CASE"
            " WHEN event_id % 4 = 0 THEN 'true'"
            " WHEN event_id % 4 = 1 THEN CAST(event_id AS VARCHAR)"
            " WHEN event_id % 4 = 2 THEN CAST(event_id AS VARCHAR) || '.5'"
            " ELSE 'txt' END AS v FROM events)"
            " SELECT"
            " CAST(sum(CASE WHEN regexp_matches(v, '^(true|false)$')"
            "   THEN 1 ELSE 0 END) AS BIGINT) AS n_boolean,"
            " CAST(sum(CASE WHEN regexp_matches(v, '^[-+]?[0-9]+$')"
            "   THEN 1 ELSE 0 END) AS BIGINT) AS n_integral,"
            " CAST(sum(CASE WHEN regexp_matches(v,"
            "   '^[-+]?([0-9]*\\.[0-9]+|[0-9]+\\.[0-9]*)([eE][-+]?[0-9]+)?$')"
            "   THEN 1 ELSE 0 END) AS BIGINT) AS n_fractional,"
            " CAST(sum(CASE WHEN v IS NOT NULL"
            "   AND NOT regexp_matches(v, '^(true|false)$')"
            "   AND NOT regexp_matches(v, '^[-+]?[0-9]+$')"
            "   AND NOT regexp_matches(v,"
            "   '^[-+]?([0-9]*\\.[0-9]+|[0-9]+\\.[0-9]*)([eE][-+]?[0-9]+)?$')"
            "   THEN 1 ELSE 0 END) AS BIGINT) AS n_string,"
            " CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            " AS n_null FROM d"
        ),
        "has_data_type_check_events": (
            "WITH d AS (SELECT CASE"
            " WHEN event_id % 4 = 0 THEN 'true'"
            " WHEN event_id % 4 = 1 THEN CAST(event_id AS VARCHAR)"
            " WHEN event_id % 4 = 2 THEN CAST(event_id AS VARCHAR) || '.5'"
            " ELSE 'txt' END AS v FROM events),"
            " b AS (SELECT"
            " sum(CASE WHEN regexp_matches(v, '^(true|false)$')"
            "   THEN 1 ELSE 0 END) AS nb,"
            " sum(CASE WHEN regexp_matches(v, '^[-+]?[0-9]+$')"
            "   THEN 1 ELSE 0 END) AS ni,"
            " sum(CASE WHEN regexp_matches(v,"
            "   '^[-+]?([0-9]*\\.[0-9]+|[0-9]+\\.[0-9]*)([eE][-+]?[0-9]+)?$')"
            "   THEN 1 ELSE 0 END) AS nf,"
            " count(v) AS nn FROM d),"
            " f AS (SELECT round(greatest(nb, ni, nf, nn - nb - ni - nf)"
            " / CAST(nn AS DOUBLE), 6) AS dominant_frac FROM b)"
            " SELECT dominant_frac, CASE WHEN dominant_frac > 0.2 AND"
            " dominant_frac < 0.3 THEN 'SUCCESS' ELSE 'ERROR' END AS status"
            " FROM f"
        ),
        "ivf_topk_embeddings": (
            "WITH q AS (SELECT embedding::DOUBLE[] e FROM embeddings"
            " WHERE vec_id = 3)"
            " SELECT vec_id, round(list_cosine_similarity("
            "embedding::DOUBLE[], (SELECT e FROM q)), 6) AS cosine"
            " FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 5"
        ),
        "dedup_exact_documents": (
            "SELECT doc_id, lang, source FROM ("
            "SELECT doc_id, lang, source,"
            " row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) rn"
            " FROM documents) WHERE rn = 1"
        ),
        "token_count_documents": (
            # n_bpe_tokens replays ops.text.BPE_TOKEN_PATTERN (Java
            # regex and RE2 agree: leftmost-first alternation, Unicode
            # \p{L}/\p{N}, explicit [ \t\n\x0B\f\r] whitespace class —
            # the engines' \s differ on \x0B — no lookaheads) —
            # SQL-quoted via doubled '.
            "SELECT doc_id, len(list_filter(string_split(text, ' '),"
            " x -> x <> '')) AS n_tokens,"
            " len(regexp_extract_all(text, '"
            + _BPE_PATTERN_SQL
            + "')) AS n_bpe_tokens,"
            # normalized_text_col replay on the same derived messy
            # column: lower -> collapse ASCII whitespace (the explicit
            # class == Java's \s) -> trim spaces
            " trim(regexp_replace(lower("
            "'  ' || upper(substr(text, 1, 40)) || ' ' || chr(9) ||"
            " chr(10) || ' ' || lang || '  '"
            "), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm_text"
            " FROM documents"
        ),
        "language_distribution_documents": (
            "SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang"
            " ORDER BY lang"
        ),
        "salted_counts_events_type": (
            # plain GROUP BY + a row_number() replay of the two-phase
            # skew-safe cap (first 400 events per type by event_id)
            "WITH capped AS ("
            " SELECT event_type, user_id FROM ("
            "  SELECT event_type, user_id, row_number() OVER"
            "   (PARTITION BY event_type ORDER BY event_id) AS rn"
            "  FROM events) WHERE rn <= 400)"
            " SELECT t.event_type, t.n, c.capped_n, c.capped_users"
            " FROM (SELECT event_type, count(*) AS n FROM events"
            "       GROUP BY event_type) t"
            " JOIN (SELECT event_type, count(*) AS capped_n,"
            "       count(DISTINCT user_id) AS capped_users"
            "       FROM capped GROUP BY event_type) c"
            " USING (event_type)"
        ),
        "salted_distinct_events_user": (
            "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)"
            " AS n_distinct FROM events GROUP BY event_type"
        ),
        "token_budget_sample_documents": (
            "WITH t AS (SELECT doc_id, lang,"
            " len(list_filter(string_split(text, ' '), x -> x <> ''))"
            " AS n_tokens FROM documents),"
            " c AS (SELECT doc_id, lang, n_tokens,"
            " sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id"
            " ROWS UNBOUNDED PRECEDING) AS cum FROM t)"
            " SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens"
            " FROM c WHERE (lang = 'en' AND cum <= 2000)"
            " OR (lang = 'de' AND cum <= 1000)"
        ),
        "custom_sql_price_range": (
            "SELECT round(max(l_extendedprice) - min(l_extendedprice), 6)"
            " AS price_range FROM lineitem"
        ),
        "metrics_by_group_returnflag": (
            "SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,"
            " round(avg(l_quantity), 6) AS mean_qty FROM lineitem"
            " WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag"
        ),
        "numeric_histogram_lineitem_price": (
            "WITH b AS (SELECT min(l_extendedprice) lo,"
            " (max(l_extendedprice) - min(l_extendedprice)) / 10 w"
            " FROM lineitem)"
            " SELECT CAST(LEAST(floor((l_extendedprice - b.lo) / b.w), 9)"
            " AS INT) AS bin,"
            " round(b.lo + LEAST(floor((l_extendedprice - b.lo) / b.w), 9)"
            " * b.w, 6) AS lo,"
            " round(b.lo + (LEAST(floor((l_extendedprice - b.lo) / b.w), 9)"
            " + 1) * b.w, 6) AS hi,"
            " count(*) AS count FROM lineitem, b"
            " WHERE l_extendedprice IS NOT NULL"
            " GROUP BY 1, 2, 3 ORDER BY bin"
        ),
        "profile_columns_orders": (
            "SELECT 'o_orderkey' AS column,"
            " CAST(count(o_orderkey) AS DOUBLE)/count(*) AS completeness,"
            " round(CAST(min(o_orderkey) AS DOUBLE), 6) AS min_v,"
            " round(CAST(max(o_orderkey) AS DOUBLE), 6) AS max_v FROM orders"
            " UNION ALL SELECT 'o_custkey',"
            " CAST(count(o_custkey) AS DOUBLE)/count(*),"
            " round(CAST(min(o_custkey) AS DOUBLE), 6),"
            " round(CAST(max(o_custkey) AS DOUBLE), 6) FROM orders"
            " UNION ALL SELECT 'o_totalprice',"
            " CAST(count(o_totalprice) AS DOUBLE)/count(*),"
            " round(CAST(min(o_totalprice) AS DOUBLE), 6),"
            " round(CAST(max(o_totalprice) AS DOUBLE), 6) FROM orders"
            " UNION ALL SELECT 'o_orderstatus',"
            " CAST(count(o_orderstatus) AS DOUBLE)/count(*),"
            " NULL, NULL FROM orders"
        ),
        "quality_features_documents": (
            "SELECT doc_id,"
            " CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,"
            " CAST(len(list_filter(regexp_split_to_array("
            "coalesce(text, ''), '\\s+'), x -> x <> '')) AS BIGINT)"
            " AS n_words FROM documents"
        ),
        "topk_cosine_embeddings": (
            "WITH q AS (SELECT embedding::DOUBLE[] e FROM embeddings"
            " WHERE vec_id = 3)"
            " SELECT vec_id, round(list_cosine_similarity("
            "embedding::DOUBLE[], (SELECT e FROM q)), 6) AS cosine"
            " FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 5"
        ),
        "cosine_pairs_embeddings": (
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
            " round(list_cosine_similarity(a.embedding::DOUBLE[],"
            " b.embedding::DOUBLE[]), 6) AS cosine"
            " FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id"
            " WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],"
            " b.embedding::DOUBLE[]), 6) >= 0.3"
        ),
        "minhash_signatures_documents": (
            f"{minhash_sig_cte},"
            " ex AS (SELECT doc_id, unnest([{'pos': i-1, 'h': sg[i]}"
            " for i in range(1, 65)]) AS u FROM sig)"
            " SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,"
            " CAST(u.h AS BIGINT) AS h FROM ex"
        ),
        "minhash_dedup_documents": (
            f"{minhash_sig_cte},"
            " pr AS (SELECT a.doc_id AS ia, b.doc_id AS ib,"
            " a.sg AS sa, b.sg AS sb FROM sig a JOIN sig b"
            " ON a.doc_id < b.doc_id),"
            f" lo AS (SELECT DISTINCT ib FROM pr WHERE ({band_or})"
            f" AND ({agree_sum}) / 64.0 >= 0.7)"
            " SELECT doc_id FROM documents"
            " WHERE doc_id NOT IN (SELECT ib FROM lo)"
        ),
        "minhash_cluster_dedup_documents": (
            # Same similar-pair table as minhash_dedup_documents, then
            # a recursive reachability closure: each node's cluster
            # label is the min over everything it can reach; survivors
            # are nodes that ARE their component minimum (or isolated).
            f"{minhash_sig_cte.replace('WITH ', 'WITH RECURSIVE ', 1)},"
            " pr AS (SELECT a.doc_id AS ia, b.doc_id AS ib,"
            " a.sg AS sa, b.sg AS sb FROM sig a JOIN sig b"
            " ON a.doc_id < b.doc_id),"
            f" sim AS (SELECT ia, ib FROM pr WHERE ({band_or})"
            f" AND ({agree_sum}) / 64.0 >= 0.7),"
            " e AS (SELECT ia AS u, ib AS v FROM sim"
            " UNION SELECT ib, ia FROM sim),"
            " reach(u, v) AS (SELECT u, v FROM e"
            " UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u"
            " WHERE e.v <> r.u),"
            " lo AS (SELECT u AS ib FROM reach GROUP BY u"
            " HAVING min(v) < u)"
            " SELECT doc_id FROM documents"
            " WHERE doc_id NOT IN (SELECT ib FROM lo)"
        ),
        "span_dedup_documents": (
            # tile-mode span dedup: fixed 8-token tiles, first
            # (doc_id, idx) occurrence per distinct span survives,
            # text rebuilt from surviving spans in order
            "WITH w AS (SELECT doc_id,"
            " list_filter(regexp_split_to_array(coalesce(text,''),"
            " '\\s+'), x -> x <> '') AS ws FROM documents),"
            " t AS (SELECT doc_id, ws,"
            " unnest(range(1, (len(ws)+7)//8 + 1)) AS i FROM w),"
            " sp AS (SELECT doc_id, i AS idx,"
            " array_to_string(ws[(i-1)*8+1 : i*8], ' ') AS span FROM t),"
            " k AS (SELECT doc_id, idx, span FROM sp QUALIFY"
            " row_number() OVER (PARTITION BY span"
            " ORDER BY doc_id, idx) = 1),"
            " r AS (SELECT doc_id, string_agg(span, ' ' ORDER BY idx)"
            " AS txt FROM k GROUP BY doc_id)"
            " SELECT d.doc_id, coalesce(r.txt, '') AS text"
            " FROM documents d LEFT JOIN r USING (doc_id)"
        ),
        "span_dedup_cdc_documents": (
            # content-defined chunks: boundary AFTER tokens whose
            # 32-bit md5 hash % 8 == 0; chunk id = running boundary
            # count over preceding tokens; then the same first-
            # occurrence survivor + rebuild as tile mode
            "WITH w AS (SELECT doc_id,"
            " list_filter(regexp_split_to_array(coalesce(text,''),"
            " '\\s+'), x -> x <> '') AS ws FROM documents),"
            " t AS (SELECT doc_id, ws,"
            " unnest(range(1, len(ws)+1)) AS pos FROM w),"
            " tb AS (SELECT doc_id, pos, ws[pos] AS wd,"
            " CASE WHEN ('0x' || substr(md5(ws[pos]),1,8))::UBIGINT"
            " % 8 = 0 THEN 1 ELSE 0 END AS b FROM t),"
            " tc AS (SELECT doc_id, pos, wd, coalesce(sum(b) OVER"
            " (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN"
            " UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid FROM tb),"
            " sp AS (SELECT doc_id, cid AS idx,"
            " string_agg(wd, ' ' ORDER BY pos) AS span FROM tc"
            " GROUP BY doc_id, cid),"
            " k AS (SELECT doc_id, idx, span FROM sp QUALIFY"
            " row_number() OVER (PARTITION BY span"
            " ORDER BY doc_id, idx) = 1),"
            " r AS (SELECT doc_id, string_agg(span, ' ' ORDER BY idx)"
            " AS txt FROM k GROUP BY doc_id)"
            " SELECT d.doc_id, coalesce(r.txt, '') AS text"
            " FROM documents d LEFT JOIN r USING (doc_id)"
        ),
        "simhash_signatures_documents": (
            f"{simhash_cte}"
            " SELECT doc_id, sig AS simhash FROM sg"
        ),
        "simhash_dedup_documents": (
            f"{simhash_cte},"
            " lo AS (SELECT DISTINCT b.doc_id AS ib FROM sg a JOIN sg b"
            f" ON a.doc_id < b.doc_id WHERE ({simhash_chunk_or})"
            " AND bit_count(xor(a.sig, b.sig)) <= 3)"
            " SELECT doc_id FROM documents"
            " WHERE doc_id NOT IN (SELECT ib FROM lo)"
        ),
        "fingerprints_md5_documents": (
            "WITH t AS (SELECT doc_id, text, array_to_string("
            "list_filter(string_split(text, ' '), x -> x <> '')[1:8],"
            " ' ') AS pfx FROM documents),"
            " h AS (SELECT doc_id,"
            " ('0x' || substr(md5(text),9,8))::UBIGINT::HUGEINT"
            " * 4294967296"
            " + ('0x' || substr(md5(text),1,8))::UBIGINT::HUGEINT AS ue,"
            " ('0x' || substr(md5(pfx),9,8))::UBIGINT::HUGEINT"
            " * 4294967296"
            " + ('0x' || substr(md5(pfx),1,8))::UBIGINT::HUGEINT AS up"
            " FROM t)"
            ", f AS (SELECT doc_id,"
            " CAST(CASE WHEN ue >= 9223372036854775808::HUGEINT"
            " THEN ue - 18446744073709551616::HUGEINT ELSE ue END"
            " AS BIGINT) AS fp_exact,"
            " CAST(CASE WHEN up >= 9223372036854775808::HUGEINT"
            " THEN up - 18446744073709551616::HUGEINT ELSE up END"
            " AS BIGINT) AS fp_prefix FROM h)"
            # dedup_against replay: NOT EXISTS = the anti-join's
            # null-unsafe equality (NULL fp_exact always survives)
            " SELECT doc_id, fp_exact, fp_prefix FROM f"
            " WHERE NOT EXISTS (SELECT 1 FROM f r"
            " WHERE r.doc_id % 7 = 0 AND r.fp_exact = f.fp_exact)"
        ),
        "near_dup_pairs_embeddings": (
            "WITH be AS (SELECT vec_id, embedding::DOUBLE[] AS e"
            " FROM embeddings),"
            f" bk AS (SELECT vec_id, e, ({lsh_bucket_sql}) AS bucket"
            " FROM be)"
            " SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
            " round(list_cosine_similarity(a.e, b.e), 6) AS cosine"
            " FROM bk a JOIN bk b"
            " ON a.bucket = b.bucket AND a.vec_id < b.vec_id"
            " WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.3"
        ),
        "semdedup_embeddings": (
            # exhaustive-mode SemDeDup: cosine pairs at the rounded
            # threshold, then a recursive reachability closure — the
            # same min-id survivor rule as the minhash cluster oracle
            "WITH RECURSIVE pr AS ("
            " SELECT a.vec_id AS ia, b.vec_id AS ib"
            " FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id"
            " WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],"
            " b.embedding::DOUBLE[]), 6) >= 0.4),"
            " e AS (SELECT ia AS u, ib AS v FROM pr"
            " UNION SELECT ib, ia FROM pr),"
            " reach(u, v) AS (SELECT u, v FROM e"
            " UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u"
            " WHERE e.v <> r.u),"
            " lo AS (SELECT u AS ib FROM reach GROUP BY u"
            " HAVING min(v) < u)"
            " SELECT vec_id FROM embeddings"
            " WHERE vec_id NOT IN (SELECT ib FROM lo)"
        ),
        # Every graded query above has a full value-hash oracle (the
        # round-4 rows-only xxhash64 fingerprint twin was retired in
        # favor of semdedup_embeddings; xxhash64 mode stays
        # pytest-covered).
    }
