"""Webtext pipeline tests: synthesis determinism, enrich parity vs the
independent reference implementation (F1 + byte-identical scrub),
gating suite, and checkpoint/resume."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hooqu_spark import VerificationSuite
from hooqu_spark.checks import CheckStatus
from hooqu_spark.pipeline import (
    DEFAULT_RULES,
    apply_rules,
    enrich,
    gating_checks,
    lineage_analyzers,
    make_doc,
    make_docs_pdf,
    run_pipeline,
    synthesize,
)
from hooqu_spark.pipeline.reference_impl import f1_score, reference_labels

N_DOCS = 1500


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize(spark, N_DOCS, partitions=8).cache()


@pytest.fixture(scope="module")
def labeled(spark, pages):
    enriched = apply_rules(enrich(pages), DEFAULT_RULES)
    spark_pdf = enriched.select(
        "url", "keep", "scrubbed_text", "lang_pred", "lang"
    ).toPandas()
    ref_pdf = reference_labels(make_docs_pdf(range(N_DOCS)), DEFAULT_RULES)
    merged = spark_pdf.merge(ref_pdf, on="url", suffixes=("_spark", "_ref"))
    assert len(merged) == N_DOCS
    return merged


class TestSynth:
    def test_lexicons_have_no_duplicate_words(self):
        # the DuckDB langid oracle inlines LEXICONS as a VALUES relation
        # and JOINs tokens against it — a duplicated word would multiply
        # its count there while the bitmask kernel counts membership
        # once, silently diverging the cross-engine contract
        from hooqu_spark.pipeline.spec import LEXICONS

        for lang, words in LEXICONS.items():
            assert len(words) == len(set(words)), lang

    def test_deterministic_per_id(self):
        a, b = make_doc(42), make_doc(42)
        assert a == b
        assert make_doc(1) != make_doc(2)

    def test_distributed_matches_local(self, spark, pages):
        sample = (
            pages.where(F.col("url").endswith("/page/7")).toPandas().iloc[0]
        )
        local = make_doc(7)
        assert sample["text"] == local["text"]
        assert sample["url"] == local["url"]
        assert bytes(sample["html"]) == local["html"]

    def test_schema_matches_input_hint(self, pages):
        assert [
            (f.name, f.dataType.simpleString()) for f in pages.schema.fields
        ] == [
            ("url", "string"),
            ("warc_ts", "timestamp"),
            ("html", "binary"),
            ("text", "string"),
            ("lang", "string"),
        ]

    def test_host_skew_present(self, pages):
        hosts = (
            pages.withColumn("host", F.regexp_extract("url", r"https://([^/]+)/", 1))
            .groupBy("host")
            .count()
            .orderBy(F.desc("count"))
            .limit(1)
            .collect()
        )
        assert hosts[0]["count"] > N_DOCS / 100  # hot host


class TestParity:
    def test_keep_drop_f1(self, labeled):
        f1 = f1_score(labeled["keep_ref"], labeled["keep_spark"])
        assert f1 >= 0.99, f"keep/drop F1 {f1} below target"

    def test_scrubbed_text_byte_identical(self, labeled):
        mismatches = (
            labeled["scrubbed_text_spark"] != labeled["scrubbed_text_ref"]
        ).sum()
        assert mismatches == 0

    def test_langid_agreement(self, labeled):
        agree = (labeled["lang_pred_spark"] == labeled["lang_pred_ref"]).mean()
        assert agree == 1.0

    def test_langid_accuracy_on_clean_docs(self, labeled):
        # docs synthesized from a single-language lexicon should be IDed
        clean = labeled[labeled["lang"].isin(["en", "de", "fr", "es", "it"])]
        acc = (clean["lang_pred_spark"] == clean["lang"]).mean()
        assert acc > 0.9

    def test_scrub_actually_redacts(self, labeled):
        scrubbed = labeled["scrubbed_text_spark"]
        assert scrubbed.str.contains("<EMAIL>").any()
        assert scrubbed.str.contains("<CREDIT_CARD>").any()
        assert scrubbed.str.contains("<TOXIC>").any()


class TestKernelFloatExact:
    def test_kernel_float_exact_vs_reference_impl(self):
        """CLAUDE.md invariant: the Spark kernel must stay FLOAT-EXACT
        (==, not approx) vs reference_impl on the synthetic corpus.

        The F1 test cannot catch ulp drift; threshold-adjacent keep
        decisions can flip on it.  log_ppl is the regression target —
        a count-weighted surprisal sum over unique tokens once diverged
        from the reference's per-occurrence accumulation on 118/1500
        docs.
        """
        from hooqu_spark.pipeline.features import compute_doc_features
        from hooqu_spark.pipeline.reference_impl import _ref_doc

        n_checked = 0
        for i in range(N_DOCS):
            text = make_doc(i)["text"]
            got = compute_doc_features(text)
            want = _ref_doc(text, DEFAULT_RULES)
            assert got["log_ppl"] == want["log_ppl"], f"doc {i} log_ppl"
            assert got["lang_score"] == want["lang_score"], f"doc {i}"
            assert got["lang_pred"] == want["lang_pred"], f"doc {i}"
            assert got["scrubbed_text"] == want["scrubbed_text"], f"doc {i}"
            n_checked += 1
        assert n_checked == N_DOCS


def assert_gate_equals_scan(result):
    """The gate evaluated from merged per-bucket states must equal a
    gating suite scanning the checkpoint: every metric (rel 1e-9) and
    every check and constraint status."""
    scan = (
        VerificationSuite().on_data(result.enriched).add_checks(gating_checks()).run()
    )
    gate = result.verification
    assert set(gate.metrics) == set(scan.metrics)
    for a, want in scan.metrics.items():
        assert want.value.isSuccess, repr(a)
        assert gate.metrics[a].value.get() == pytest.approx(
            want.value.get(), rel=1e-9
        ), repr(a)
    assert gate.status == scan.status
    pairs = list(zip(gate.check_results.values(), scan.check_results.values()))
    assert len(pairs) == len(scan.check_results)
    for got, want in pairs:
        assert got.check.description == want.check.description
        assert got.status == want.status
        assert [c.status for c in got.constraint_results] == [
            c.status for c in want.constraint_results
        ]


class TestPipelineEndToEnd:
    def test_run_pipeline_and_resume(self, spark, pages, tmp_path):
        work = str(tmp_path / "work")
        result = run_pipeline(
            spark, pages, work, rules=DEFAULT_RULES, run_id="r1", n_buckets=8
        )
        assert result.verification.status in (
            CheckStatus.SUCCESS,
            CheckStatus.WARNING,
        )
        assert_gate_equals_scan(result)
        assert len(result.processed_buckets) == 8
        n_kept = result.kept.count()
        assert 0 < n_kept < N_DOCS

        # metrics reconstructed from merged per-bucket states must match
        # a direct global computation
        from hooqu_spark.analyzers import Mean, do_analysis_run

        direct = do_analysis_run(result.enriched, [Mean("n_words")]).all_metrics()[0]
        by_key = {a.name + a.instance: m for a, m in result.metrics.items()}
        assert by_key["Meann_words"].value.get() == pytest.approx(
            direct.value.get(), rel=1e-12
        )

        # resume: nothing left to do, same metrics, no reprocessing
        result2 = run_pipeline(
            spark, pages, work, rules=DEFAULT_RULES, run_id="r1", n_buckets=8
        )
        assert result2.processed_buckets == []
        assert len(result2.resumed_buckets) == 8
        assert result2.kept.count() == n_kept
        assert_gate_equals_scan(result2)

    def test_partial_run_resumes_missing_buckets(self, spark, pages, tmp_path):
        work = str(tmp_path / "work2")
        # simulate a killed run: first run only sees half the buckets
        bucketed = pages.withColumn(
            "b", F.pmod(F.xxhash64(F.col("url")), F.lit(8))
        )
        half = bucketed.where(F.col("b") < 4).drop("b")
        r1 = run_pipeline(spark, half, work, run_id="r2", n_buckets=8)
        done_first = set(r1.processed_buckets)
        assert 0 < len(done_first) <= 8

        r2 = run_pipeline(spark, pages, work, run_id="r2", n_buckets=8)
        assert set(r2.resumed_buckets) == done_first
        assert set(r2.processed_buckets).isdisjoint(done_first)
        # full data now present
        assert r2.enriched.count() == N_DOCS
        assert_gate_equals_scan(r2)

    def test_duplicate_url_fails_uniqueness_like_a_scan(self, spark, pages, tmp_path):
        from hooqu_spark.analyzers import Uniqueness

        dup = pages.union(pages.where(F.col("url").endswith("/page/7")))
        result = run_pipeline(spark, dup, str(tmp_path / "work"), n_buckets=8)
        assert result.verification.status == CheckStatus.ERROR
        # two copies of one url among N_DOCS + 1 rows
        uniqueness = result.verification.metrics[Uniqueness(["url"])].value.get()
        assert uniqueness == pytest.approx((N_DOCS - 1) / (N_DOCS + 1), rel=1e-12)
        assert_gate_equals_scan(result)

    def test_log_without_gate_states_fails_the_gate(self, spark, pages, tmp_path):
        from hooqu_spark.analyzers import Uniqueness
        from hooqu_spark.lineage import StateRepository, analyzer_key

        work = str(tmp_path / "work")
        half = pages.where(F.pmod(F.xxhash64("url"), F.lit(8)) < 4)
        run_pipeline(spark, half, work, run_id="r", n_buckets=8)
        # a log committed by a version without the url frequency state
        repo = StateRepository(f"{work}/states")
        key = analyzer_key(Uniqueness(["url"]))
        kept = [r for r in repo.load("r") if r.analyzer_key != key]
        shutil.rmtree(f"{work}/states")
        repo.save("r", kept)

        result = run_pipeline(spark, pages, work, run_id="r", n_buckets=8)
        metric = result.verification.metrics[Uniqueness(["url"])]
        assert metric.value.isFailure
        assert "no committed state for buckets" in str(metric.value.exception)
        assert result.verification.status == CheckStatus.ERROR

    def test_no_resume_starts_a_fresh_state_log(self, spark, pages, tmp_path):
        from hooqu_spark.analyzers import Size

        work = str(tmp_path / "work")
        run_pipeline(spark, pages, work, run_id="r", n_buckets=8)
        rerun = run_pipeline(spark, pages, work, run_id="r", n_buckets=8, resume=False)
        assert len(rerun.processed_buckets) == 8
        # a later resume merges every bucket's states exactly once
        result = run_pipeline(spark, pages, work, run_id="r", n_buckets=8)
        assert result.processed_buckets == []
        assert result.metrics[Size()].value.get() == result.enriched.count()
        assert_gate_equals_scan(result)

    def test_failed_frequency_job_on_resume_commits_nothing(
        self, spark, pages, tmp_path, monkeypatch
    ):
        from hooqu_spark.analyzers.grouping import FrequencyBasedAnalyzer
        from hooqu_spark.lineage import StateRepository

        work = str(tmp_path / "work")
        half = pages.where(F.pmod(F.xxhash64("url"), F.lit(8)) < 4)
        run_pipeline(spark, half, work, run_id="r", n_buckets=8)
        repo = StateRepository(f"{work}/states")
        before = repo.load("r")
        # the url frequency job plans fine and fails while it runs
        monkeypatch.setattr(
            FrequencyBasedAnalyzer,
            "frequency_stats_exprs",
            staticmethod(lambda: [F.max(F.raise_error(F.lit("frequency job lost")))]),
        )
        with pytest.raises(Exception, match="frequency job lost"):
            run_pipeline(spark, pages, work, run_id="r", n_buckets=8)
        assert repo.load("r") == before

    def test_empty_input_fails_the_gate(self, spark, pages, tmp_path):
        from hooqu_spark.analyzers import Size

        result = run_pipeline(spark, pages.limit(0), str(tmp_path / "work"), n_buckets=8)
        assert result.verification.status == CheckStatus.ERROR
        integrity = next(
            r for c, r in result.verification.check_results.items()
            if c.description == "input integrity"
        )
        assert integrity.constraint_results[0].status.name == "FAILURE"  # has_size
        # no buckets merge to the Size monoid's identity: 0, not a failure
        size = result.metrics[Size()].value
        assert size.isSuccess and size.get() == 0
        assert result.processed_buckets == []
        assert result.kept.count() == 0

    def test_fresh_run_job_budget(self, spark, pages, tmp_path, count_jobs):
        pages.count()  # the cached fixture is not part of the run
        result, jobs = count_jobs(
            lambda: run_pipeline(spark, pages, str(tmp_path / "work"), n_buckets=8)
        )
        assert len(result.processed_buckets) == 8
        # checkpoint write, states job, per-bucket url frequencies
        assert jobs <= 8


def attempt_dirs(work, run_id):
    """The checkpoint's ``attempt=<id>`` directories of ``run_id``."""
    root = os.path.join(work, "enriched", run_id)
    if not os.path.isdir(root):
        return []
    return sorted(d for d in os.listdir(root) if d.startswith("attempt="))


def assert_each_doc_once(result):
    rows = result.enriched.agg(F.count("*"), F.countDistinct("url")).first()
    assert tuple(rows) == (N_DOCS, N_DOCS)


class TestCheckpointCommitProtocol:
    def test_crash_between_write_and_commit(self, spark, pages, tmp_path, monkeypatch):
        from hooqu_spark.lineage import StateRepository

        work = str(tmp_path / "work")
        half = pages.where(F.pmod(F.xxhash64("url"), F.lit(8)) < 4)
        run_pipeline(spark, half, work, run_id="r", n_buckets=8)
        repo = StateRepository(f"{work}/states")
        before = repo.load("r")
        (committed,) = attempt_dirs(work, "r")

        def lost(self, run_id, records):
            raise RuntimeError("process lost before the commit")

        with monkeypatch.context() as m:
            m.setattr(StateRepository, "save", lost)
            with pytest.raises(RuntimeError, match="lost before the commit"):
                run_pipeline(spark, pages, work, run_id="r", n_buckets=8)
        assert repo.load("r") == before
        (orphan,) = set(attempt_dirs(work, "r")) - {committed}

        result = run_pipeline(spark, pages, work, run_id="r", n_buckets=8)
        assert len(result.processed_buckets) == 4
        dirs = attempt_dirs(work, "r")
        assert orphan not in dirs and committed in dirs and len(dirs) == 2
        assert_each_doc_once(result)
        assert_gate_equals_scan(result)

    def test_bucket_in_committed_and_uncommitted_attempt(self, spark, pages, tmp_path):
        from hooqu_spark.lineage import StateRepository

        work = str(tmp_path / "work")
        run_pipeline(spark, pages, work, run_id="r", n_buckets=8)
        (first,) = attempt_dirs(work, "r")
        repo = StateRepository(f"{work}/states")
        dropped = {"1", "5", "6"}
        kept = [r for r in repo.load("r") if r.bucket not in dropped]
        shutil.rmtree(f"{work}/states")
        repo.save("r", kept)
        assert {r.attempt for r in repo.load("r")} == {first.split("=", 1)[1]}

        result = run_pipeline(spark, pages, work, run_id="r", n_buckets=8)
        assert set(result.processed_buckets) == dropped
        # the first attempt still holds rows of the recomputed buckets
        stale = spark.read.parquet(os.path.join(work, "enriched", "r", first))
        assert stale.where(F.col("bucket").isin([int(b) for b in dropped])).count() > 0
        assert_each_doc_once(result)
        assert_gate_equals_scan(result)

    def test_no_resume_after_two_attempts_keeps_one(self, spark, pages, tmp_path):
        work = str(tmp_path / "work")
        half = pages.where(F.pmod(F.xxhash64("url"), F.lit(8)) < 4)
        run_pipeline(spark, half, work, run_id="r", n_buckets=8)
        run_pipeline(spark, pages, work, run_id="r", n_buckets=8)
        assert len(attempt_dirs(work, "r")) == 2

        result = run_pipeline(spark, pages, work, run_id="r", n_buckets=8, resume=False)
        assert len(attempt_dirs(work, "r")) == 1
        assert result.enriched.count() == N_DOCS

    @pytest.mark.parametrize("glob_id", ["r*", "[r]un"])
    def test_cleanup_spares_runs_a_glob_run_id_matches(self, spark, pages, tmp_path, glob_id):
        work = str(tmp_path / "work")
        run_pipeline(spark, pages, work, run_id="run", n_buckets=8)
        committed = attempt_dirs(work, "run")

        assert_each_doc_once(run_pipeline(spark, pages, work, run_id=glob_id, n_buckets=8))
        assert attempt_dirs(work, "run") == committed

        result = run_pipeline(spark, pages, work, run_id="run", n_buckets=8)
        assert result.processed_buckets == [] and len(result.resumed_buckets) == 8
        assert_each_doc_once(result)

    def test_bucket_count_adds_no_listing_job(
        self, spark, pages, tmp_path, count_jobs
    ):
        pages.count()  # the cached fixture is not part of the run
        jobs = {}
        for n in (8, 64):
            result, jobs[n] = count_jobs(
                lambda: run_pipeline(spark, pages, str(tmp_path / f"w{n}"), n_buckets=n),
            )
            assert len(result.processed_buckets) == n
        assert jobs[64] <= jobs[8]

    @pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file_uri"])
    def test_resume_of_a_finished_run_starts_no_job(
        self, spark, pages, tmp_path, scheme, count_jobs
    ):
        work = str(tmp_path / "work")
        first = run_pipeline(spark, pages, scheme + work, run_id="r", n_buckets=8)
        dirs = attempt_dirs(work, "r")
        assert len(dirs) == 1

        result, jobs = count_jobs(
            lambda: run_pipeline(spark, pages, scheme + work, run_id="r", n_buckets=8)
        )
        assert jobs == 0
        assert result.processed_buckets == [] and len(result.resumed_buckets) == 8
        assert attempt_dirs(work, "r") == dirs
        assert {a: m.value.get() for a, m in result.metrics.items()} == {
            a: m.value.get() for a, m in first.metrics.items()
        }
        assert result.enriched.count() == N_DOCS
        assert_gate_equals_scan(result)

    def test_bucket_directory_log_is_rejected(self, spark, pages, tmp_path):
        import pandas as pd

        work = tmp_path / "work"
        old_bucket = work / "enriched" / "r" / "bucket=3"
        old_bucket.mkdir(parents=True)
        (old_bucket / "part-00000.parquet").write_bytes(b"old layout")
        log = work / "states" / "r"
        log.mkdir(parents=True)
        pd.DataFrame(
            [("3", "Size|*|", "null")], columns=["bucket", "analyzer_key", "state_json"]
        ).to_parquet(log / "states_old.parquet", index=False)
        before = sorted(str(p) for p in work.rglob("*"))

        with pytest.raises(ValueError, match="resume=False"):
            run_pipeline(spark, pages, str(work), run_id="r", n_buckets=8)
        assert sorted(str(p) for p in work.rglob("*")) == before

        result = run_pipeline(spark, pages, str(work), run_id="r", n_buckets=8, resume=False)
        assert not old_bucket.exists()
        assert result.enriched.count() == N_DOCS


class TestLineageStates:
    def test_states_merge_equals_global(self, spark, pages, tmp_path):
        from hooqu_spark.analyzers import do_analysis_run
        from hooqu_spark.lineage import (
            compute_partition_states,
            merge_states,
            metrics_from_states,
        )

        enriched = apply_rules(enrich(pages), DEFAULT_RULES).drop("html")
        enriched = enriched.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(6)).cast("string")
        ).cache()
        analyzers = lineage_analyzers(DEFAULT_RULES)
        records = compute_partition_states(enriched, analyzers, "bucket")
        merged = metrics_from_states(analyzers, merge_states(records))
        direct = do_analysis_run(enriched, analyzers)
        for a in analyzers:
            got = merged[a].value
            want = direct.metric(a).value
            if want.isFailure:
                assert got.isFailure
            elif a.name == "QuantileSketch":
                assert got.get() == pytest.approx(want.get(), abs=0.2)
            else:
                assert got.get() == pytest.approx(want.get(), rel=1e-9), repr(a)
        enriched.unpersist()
