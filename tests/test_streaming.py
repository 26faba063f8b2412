"""Streaming verification + metrics repository tests."""

import time

import pytest
from pyspark.sql import functions as F

from hooqu_spark.analyzers import Completeness, Maximum, Mean, Minimum, Size
from hooqu_spark.checks import Check, CheckLevel, CheckStatus
from hooqu_spark.repository import MetricsRepository
from hooqu_spark.streaming import StreamingVerification


class TestWindowedMetrics:
    def test_per_window_metrics_with_watermark(self, spark, tmp_path):
        from datetime import datetime

        from hooqu_spark.streaming import WindowedMetrics

        src = str(tmp_path / "wsrc")
        chk = str(tmp_path / "wchk")

        def ts(minute, sec=0):
            return datetime(2024, 1, 1, 10, minute, sec)

        # two 10-minute windows: [10:00, 10:10) and [10:10, 10:20)
        rows1 = [(ts(1), 1.0), (ts(2), 3.0), (ts(11), 10.0)]
        spark.createDataFrame(rows1, "ts timestamp, v double").coalesce(
            1
        ).write.mode("append").parquet(src)

        wm = WindowedMetrics(
            [Size(), Mean("v"), Completeness("v")],
            ts_col="ts",
            window_duration="10 minutes",
            watermark_delay="5 minutes",
        )
        stream = spark.readStream.schema("ts timestamp, v double").parquet(src)
        q = (
            wm.attach(stream)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        metrics = wm.window_metrics()
        assert len(metrics) == 2
        by_start = {k[0].minute: v for k, v in metrics.items()}
        w0 = {a.name: m.value.get() for a, m in by_start[0].items()}
        assert w0["Size"] == 2.0
        assert w0["Mean"] == pytest.approx(2.0)
        w10 = {a.name: m.value.get() for a, m in by_start[10].items()}
        assert w10["Size"] == 1.0
        assert w10["Mean"] == pytest.approx(10.0)

        # second micro-batch: one on-time event updates window 1; one
        # event far behind the watermark (10:02 while max ts is 10:11,
        # watermark 5 min) MAY be dropped by the state store — window 0
        # must NOT regress below its committed value.
        rows2 = [(ts(12), 20.0), (ts(2), 1000.0)]
        spark.createDataFrame(rows2, "ts timestamp, v double").coalesce(
            1
        ).write.mode("append").parquet(src)
        stream2 = spark.readStream.schema("ts timestamp, v double").parquet(src)
        q2 = (
            wm.attach(stream2)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)

        metrics2 = wm.window_metrics()
        by_start2 = {k[0].minute: v for k, v in metrics2.items()}
        w10b = {a.name: m.value.get() for a, m in by_start2[10].items()}
        assert w10b["Size"] == 2.0
        assert w10b["Mean"] == pytest.approx(15.0)


class TestSlidingWindowMetrics:
    def test_sliding_windows_overlap(self, spark, tmp_path):
        from datetime import datetime

        from hooqu_spark.streaming import WindowedMetrics

        src = str(tmp_path / "ssrc")
        chk = str(tmp_path / "schk")
        rows = [
            (datetime(2024, 1, 1, 10, m), 1.0) for m in (1, 6, 11)
        ]
        spark.createDataFrame(rows, "ts timestamp, v double").coalesce(
            1
        ).write.mode("append").parquet(src)

        wm = WindowedMetrics(
            [Size()],
            ts_col="ts",
            window_duration="10 minutes",
            slide_duration="5 minutes",
            watermark_delay="30 minutes",
        )
        stream = spark.readStream.schema("ts timestamp, v double").parquet(src)
        q = (
            wm.attach(stream)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        metrics = wm.window_metrics()
        sizes = {
            k[0].strftime("%H:%M"): next(iter(v.values())).value.get()
            for k, v in metrics.items()
        }
        # 10-min windows sliding by 5: event at 10:01 lands in
        # [09:55,10:05) and [10:00,10:10); 10:06 in [10:00,10:10) and
        # [10:05,10:15); 10:11 in [10:05,10:15) and [10:10,10:20)
        assert sizes == {
            "09:55": 1.0,
            "10:00": 2.0,
            "10:05": 2.0,
            "10:10": 1.0,
        }


class TestStreamingVerification:
    def test_incremental_states_match_global(self, spark, tmp_path):
        src = str(tmp_path / "stream_src")
        chk = str(tmp_path / "chk")

        # three "arriving" files
        all_rows = []
        for batch in range(3):
            rows = [
                (batch * 100 + i, float(batch * 100 + i) if i % 5 else None)
                for i in range(100)
            ]
            all_rows += rows
            spark.createDataFrame(rows, "id long, v double").coalesce(
                1
            ).write.mode("append").parquet(src)

        analyzers = [Size(), Minimum("v"), Maximum("v"), Mean("v"), Completeness("v")]
        checks = [
            Check(CheckLevel.ERROR, "stream gate").has_size(lambda n: n > 0)
        ]
        seen_batches = []
        sv = StreamingVerification(
            analyzers, checks, on_batch=lambda bid, res: seen_batches.append(bid)
        )

        stream = spark.readStream.schema("id long, v double").parquet(src)
        q = (
            sv.attach(stream)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        assert sv.batches_processed() >= 1
        metrics = {a.name: m for a, m in sv.current_metrics().items()}

        # cumulative streaming metrics == batch metrics over all data
        batch_df = spark.createDataFrame(all_rows, "id long, v double")
        from hooqu_spark.analyzers import do_analysis_run

        direct = do_analysis_run(batch_df, analyzers)
        for a in analyzers:
            want = direct.metric(a).value.get()
            got = metrics[a.name].value.get()
            assert got == pytest.approx(want, rel=1e-12), a.name

        assert sv.last_result.status == CheckStatus.SUCCESS
        assert seen_batches  # callback fired


class TestMetricsRepository:
    def test_save_load_diff(self, tmp_path, spark, df_with_numeric_values):
        from hooqu_spark.analyzers import Mean, do_analysis_run

        ctx = do_analysis_run(df_with_numeric_values, [Mean("att1"), Size()])
        # a plain path and a file:// URI root
        for scheme, root in (("", tmp_path / "repo"), ("file://", tmp_path / "uri")):
            repo = MetricsRepository(scheme + str(root))
            s0 = repo.save("daily", ctx.metric_map)
            s1 = repo.save("daily", ctx.metric_map)
            assert (s0, s1) == (0, 1)
            # the history lands at the URI's path
            assert sorted(p.name for p in root.glob("metrics_*")) == [
                "metrics_daily_0.parquet",
                "metrics_daily_1.parquet",
            ]

            latest = repo.latest("daily")
            assert set(latest["name"]) == {"Mean", "Size"}
            assert latest[latest["name"] == "Mean"]["value"].iloc[0] == 3.5

            series = repo.diff("daily", "Mean", "att1")
            assert list(series["seq"]) == [0, 1]
            assert list(series["value"]) == [3.5, 3.5]

    def test_empty_load(self, spark, tmp_path):
        repo = MetricsRepository(str(tmp_path / "repo2"))
        assert repo.load().empty
        assert repo.latest("x").empty


class TestStreamingQualityFilter:
    def test_stream_filter_matches_batch(self, spark, tmp_path):
        """readStream -> enrich -> rules -> keep filter -> parquet sink
        (availableNow) must keep exactly the rows the batch pipeline
        keeps, with byte-identical scrubbed text."""
        from hooqu_spark.pipeline import (
            DEFAULT_RULES,
            apply_rules,
            enrich,
            streaming_quality_filter,
            synthesize,
        )

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        pages = synthesize(spark, 300, partitions=4)
        pages.write.parquet(src)

        stream = (
            spark.readStream.schema(pages.schema).parquet(src)
        )
        kept_stream = streaming_quality_filter(stream, DEFAULT_RULES)
        q = (
            kept_stream.drop("html")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = spark.read.parquet(out).select("url", "scrubbed_text").toPandas()
        want = (
            apply_rules(enrich(spark.read.parquet(src)), DEFAULT_RULES)
            .where("keep")
            .select("url", "scrubbed_text")
            .toPandas()
        )
        g = got.sort_values("url").reset_index(drop=True)
        w = want.sort_values("url").reset_index(drop=True)
        assert len(g) == len(w) > 0
        assert g.equals(w)

    def test_restart_is_exactly_once(self, spark, tmp_path):
        """A second availableNow run over the same checkpoint must not
        duplicate rows (sink checkpoint = exactly-once delivery)."""
        from hooqu_spark.pipeline import (
            DEFAULT_RULES,
            streaming_quality_filter,
            synthesize,
        )

        src = str(tmp_path / "src2")
        out = str(tmp_path / "out2")
        ckpt = str(tmp_path / "ckpt2")
        pages = synthesize(spark, 200, partitions=2)
        pages.write.parquet(src)
        stream = spark.readStream.schema(pages.schema).parquet(src)

        def run_once():
            q = (
                streaming_quality_filter(stream, DEFAULT_RULES)
                .drop("html")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        n1 = spark.read.parquet(out).count()
        run_once()  # replay: no new source data, checkpoint intact
        assert spark.read.parquet(out).count() == n1 > 0


class TestStreamingDedup:
    def _run(self, spark, tmp_path, fingerprint):
        import datetime as dt

        from hooqu_spark.streaming import streaming_dedup

        base = dt.datetime(2026, 8, 17, 12, 0, 0)
        src = str(tmp_path / f"src_{fingerprint}")
        out = str(tmp_path / f"out_{fingerprint}")
        ckpt = str(tmp_path / f"ckpt_{fingerprint}")
        rows1 = [
            (base, "u1", "hello world"),
            (base + dt.timedelta(minutes=1), "u2", "other text"),
            (base + dt.timedelta(minutes=2), "u3", "hello world"),  # dup of u1
        ]
        rows2 = [
            (base + dt.timedelta(minutes=3), "u4", "hello world"),  # dup again
            (base + dt.timedelta(minutes=4), "u5", "fresh page"),
        ]
        schema = "ts timestamp, url string, text string"
        spark.createDataFrame(rows1, schema).write.parquet(src + "/b1")
        spark.createDataFrame(rows2, schema).write.parquet(src + "/b2")
        stream = spark.readStream.schema(schema).parquet(src + "/*")
        deduped = streaming_dedup(
            stream, ["text"], "ts", delay="1 hour", fingerprint=fingerprint
        )
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    def test_duplicate_texts_dropped_within_watermark(self, spark, tmp_path):
        got = self._run(spark, tmp_path, fingerprint=True)
        texts = sorted(r["text"] for r in got.collect())
        assert texts == ["fresh page", "hello world", "other text"]
        # the fingerprint helper column never reaches the sink
        assert "_hooqu_fp" not in got.columns

    def test_raw_key_mode_matches(self, spark, tmp_path):
        got = self._run(spark, tmp_path, fingerprint=False)
        assert sorted(r["text"] for r in got.collect()) == [
            "fresh page", "hello world", "other text",
        ]

    def test_null_shifted_keys_do_not_collide(self, spark, tmp_path):
        # Spark's xxhash64 skips NULL arguments, so hashing raw columns
        # would conflate (NULL,'foo') with ('foo',NULL); the fingerprint
        # hashes (is-null flag, value) pairs to keep them distinct
        import datetime as dt

        from hooqu_spark.streaming import streaming_dedup

        base = dt.datetime(2026, 8, 17, 12, 0, 0)
        src = str(tmp_path / "src_null")
        out = str(tmp_path / "out_null")
        ckpt = str(tmp_path / "ckpt_null")
        schema = "ts timestamp, a string, b string"
        rows = [
            (base, None, "foo"),
            (base + dt.timedelta(minutes=1), "foo", None),
            (base + dt.timedelta(minutes=2), None, "foo"),  # true dup
        ]
        spark.createDataFrame(rows, schema).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_dedup(stream, ["a", "b"], "ts", delay="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["a"], r["b"]) for r in spark.read.parquet(out).collect()
        }
        assert got == {(None, "foo"), ("foo", None)}

    def test_fingerprint_column_collision_raises(self, spark):
        # An input stream that already carries _hooqu_fp would be
        # silently overwritten and dropped; must raise instead.
        from hooqu_spark.streaming import streaming_dedup

        df = spark.createDataFrame(
            [], "ts timestamp, a string, _hooqu_fp bigint"
        )
        with pytest.raises(ValueError, match="_hooqu_fp"):
            streaming_dedup(df, ["a"], "ts")
        # fingerprint=False does not touch the column -> no raise
        out = streaming_dedup(df, ["a"], "ts", fingerprint=False)
        assert "_hooqu_fp" in out.columns


class TestStreamingGroupedMetrics:
    def test_custom_stateful_state_matches_batch(self, spark, tmp_path):
        """applyInPandasWithState running metrics: after consuming two
        micro-batches (maxFilesPerTrigger=1), each key's LAST emitted
        cumulative (n, mean, stddev) must equal the batch aggregation
        over the concatenated data — the monoid-state contract, now
        held by Spark's streaming state store."""
        from hooqu_spark.streaming import streaming_grouped_metrics

        src = str(tmp_path / "gm_src")
        ckpt = str(tmp_path / "gm_ckpt")
        schema = "k string, v double"
        batch1 = [("a", 1.0), ("a", 2.0), ("b", 10.0)]
        batch2 = [("a", 3.0), ("a", None), ("b", 20.0), ("b", 30.0), ("c", 5.0)]
        spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

        emitted = []  # (batch_id, rows)

        def sink(bdf, bid):
            emitted.append((bid, bdf.collect()))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_grouped_metrics(stream, "k", "v")
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        # at least two micro-batches ran, and each emitted only the
        # keys it updated (update semantics, not a full snapshot)
        nonempty = [rows for _, rows in emitted if rows]
        assert len(nonempty) >= 2

        last = {}
        for _, rows in sorted(emitted):
            for r in rows:
                last[r["k"]] = (r["n"], r["mean"], r["stddev"])

        expected = {
            r["k"]: (r["n"], r["mean"], r["stddev"])
            for r in (
                spark.createDataFrame(batch1 + batch2, schema)
                .groupBy("k")
                .agg(
                    F.count("v").alias("n"),
                    F.avg("v").alias("mean"),
                    F.stddev_pop("v").alias("stddev"),
                )
                .collect()
            )
        }
        assert set(last) == set(expected) == {"a", "b", "c"}
        for k in expected:
            assert last[k][0] == expected[k][0], k
            assert last[k][1] == pytest.approx(expected[k][1], rel=1e-12), k
            assert last[k][2] == pytest.approx(expected[k][2], rel=1e-9), k

    def test_all_null_key_emits_nothing(self, spark, tmp_path):
        from hooqu_spark.streaming import streaming_grouped_metrics

        src = str(tmp_path / "gm_null_src")
        ckpt = str(tmp_path / "gm_null_ckpt")
        schema = "k string, v double"
        spark.createDataFrame(
            [("a", 1.0), ("z", None)], schema
        ).coalesce(1).write.parquet(src)

        emitted = []

        def sink(bdf, bid):
            emitted.extend(bdf.collect())

        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_grouped_metrics(stream, "k", "v")
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert {r["k"] for r in emitted} == {"a"}
        (row,) = emitted
        assert (row["n"], row["mean"], row["stddev"]) == (1, 1.0, 0.0)

    def test_null_only_batch_emits_nothing_and_keeps_timeout(self, spark, tmp_path):
        """A key with state that gets only NULLs in a batch emits
        nothing for that batch, and the call still sets its idle
        timeout: the key is evicted after a later quiet batch, so its
        next arrival restarts from zero."""
        from hooqu_spark.streaming import streaming_grouped_metrics

        src = str(tmp_path / "gm_nullbatch_src")
        ckpt = str(tmp_path / "gm_nullbatch_ckpt")
        schema = "k string, v double"
        # one file per micro-batch: 'a' gets a value, then only a NULL,
        # then idles one batch (evicted at 1ms idle), then reappears
        batches = [
            [("a", 1.0)],
            [("a", None), ("b", 2.0)],
            [("b", 3.0)],
            [("a", 5.0)],
        ]
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        emitted = []

        def sink(bdf, bid):
            emitted.append((bid, bdf.collect()))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_grouped_metrics(stream, "k", "v", idle_timeout_ms=1)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        deadline = time.time() + 90

        def keys_by_batch():
            return [{r["k"] for r in rows} for _, rows in sorted(emitted)]

        while time.time() < deadline and len([b for b in keys_by_batch() if b]) < 4:
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(30)

        by_batch = [b for b in keys_by_batch() if b]
        assert by_batch == [{"a"}, {"b"}, {"b"}, {"a"}]
        a_rows = [r for _, rows in sorted(emitted) for r in rows if r["k"] == "a"]
        # the second 'a' restarted from a fresh state: it was evicted
        assert [(r["n"], r["mean"]) for r in a_rows] == [(1, 1.0), (1, 5.0)]

    def test_idle_timeout_evicts_state(self, spark, tmp_path):
        """With a processing-time idle timeout, a key that stays quiet
        for a batch is evicted and a later arrival restarts from zero —
        total state stays bounded under unbounded key cardinality."""
        from hooqu_spark.streaming import streaming_grouped_metrics

        src = str(tmp_path / "gm_evict_src")
        ckpt = str(tmp_path / "gm_evict_ckpt")
        schema = "k string, v double"
        # three single-file micro-batches: 'a' appears, idles one
        # batch (evicting at 1ms idle), then reappears
        for i, rows in enumerate(
            [[("a", 1.0)], [("b", 2.0)], [("a", 5.0)]]
        ):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        emitted = []

        def sink(bdf, bid):
            emitted.append((bid, bdf.collect()))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_grouped_metrics(stream, "k", "v", idle_timeout_ms=1)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # a pending processing-time timeout keeps the query alive past
        # the last data batch — poll for the result and stop explicitly
        # instead of waiting for self-termination
        deadline = time.time() + 90
        def a_emissions():
            return [
                (bid, r)
                for bid, rows in emitted
                for r in rows
                if r["k"] == "a"
            ]
        while time.time() < deadline and len(a_emissions()) < 2:
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(30)

        a_rows = a_emissions()
        assert len(a_rows) == 2
        # second appearance restarted from a FRESH state (n=1, mean=5),
        # proving the idle eviction removed the first triple
        final = a_rows[-1][1]
        assert (final["n"], final["mean"]) == (1, 5.0)
