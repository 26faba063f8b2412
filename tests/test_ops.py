"""Tests for the training-data pipeline operators (dedup, similarity,
text analysis, multimodal plumbing)."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from hooqu_spark.ops import (
    brute_force_topk,
    document_fingerprints,
    embedding_near_duplicates,
    exact_dedup,
    lsh_bucketed_topk,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    ngram_jaccard_dedup,
    simhash_dedup,
    simhash_signatures,
    token_counts,
)
from hooqu_spark.ops.multimodal import (
    attach_binary_metadata,
    extract_binary_features,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest to find some food for the winter"
    )
    rows = [
        (0, base),
        (1, base),  # exact duplicate of 0
        (2, base.replace("winter", "summer")),  # near duplicate of 0
        (3, "completely different text about spark dataframes and shuffles"),
        (4, "another unrelated document mentioning hash joins and scans"),
        (5, base.replace("quick", "slow").replace("lazy", "angry")),
        (6, ""),  # empty
    ]
    return spark.createDataFrame(rows, "id long, text string")


def shingles(t, k=3):
    """Distinct word ``k``-gram shingles, the dedup module's definition."""
    w = (t or "").split()
    if len(w) < k:
        return {" ".join(w)}
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


class TestExactDedup:
    def test_keeps_smallest_id(self, docs):
        out = exact_dedup(docs, ["text"], "id")
        ids = {r["id"] for r in out.collect()}
        assert 0 in ids and 1 not in ids
        assert ids == {0, 2, 3, 4, 5, 6}


class TestDedupAgainst:
    def test_drops_rows_whose_key_is_in_reference(self, spark):
        from hooqu_spark.ops import dedup_against

        new = spark.createDataFrame(
            [(0, "a"), (1, "b"), (2, "c"), (3, None), (4, "a")],
            "id long, fp string",
        )
        ingested = spark.createDataFrame(
            [(100, "a"), (101, "d"), (102, None)], "id long, fp string"
        )
        got = {r["id"] for r in dedup_against(new, ingested, ["fp"]).collect()}
        # "a" already ingested -> 0 and 4 drop; NULL keys always
        # survive (null-unsafe anti join), incl. vs the reference's
        # own NULL key
        assert got == {1, 2, 3}

    def test_broadcast_mode_same_result_and_broadcast_plan(self, spark):
        from hooqu_spark.ops import dedup_against

        new = spark.createDataFrame(
            [(i, f"k{i % 5}") for i in range(40)], "id long, fp string"
        )
        ref = spark.createDataFrame([(0, "k1"), (1, "k3")], "rid long, fp string")
        plain = {r["id"] for r in dedup_against(new, ref, ["fp"]).collect()}
        bcast_df = dedup_against(new, ref, ["fp"], broadcast_reference=True)
        bcast = {r["id"] for r in bcast_df.collect()}
        assert plain == bcast == {i for i in range(40) if i % 5 not in (1, 3)}
        assert "BroadcastHashJoin" in bcast_df._jdf.queryExecution().executedPlan().toString()

    def test_reference_payload_columns_never_join(self, spark):
        # the reference is pruned to distinct keys before the join —
        # a fat payload column on the reference side must not appear
        # in the join plan's build side
        from hooqu_spark.ops import dedup_against

        new = spark.createDataFrame([(0, "a"), (1, "b")], "id long, fp string")
        ref = spark.createDataFrame(
            [(0, "a", "x" * 10)], "rid long, fp string, payload string"
        )
        out = dedup_against(new, ref, ["fp"])
        assert {r["id"] for r in out.collect()} == {1}
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        # the anti-join's build side is distinct-over-key-only: an
        # Aggregate on fp alone, with rid/payload pruned before it
        # (the source LocalRelation line still names every column, so
        # assert on the Aggregate/Project nodes instead)
        agg_lines = [l for l in plan.splitlines() if "Aggregate" in l]
        assert agg_lines and all(
            "fp" in l and "payload" not in l and "rid" not in l
            for l in agg_lines
        ), plan


class TestMinHash:
    def test_signatures_match_naive_md5_model(self, spark):
        # the JVM signature aggregate must produce EXACTLY the naive
        # per-doc model: min over distinct word-3-gram shingles of
        # (a_i * md5_32(shingle) + b_i) mod p — this is the contract
        # the DuckDB oracle replays (signatures and dedup survivors
        # are stable cross-engine outputs)
        import hashlib

        from hooqu_spark.ops.dedup import _MERSENNE, _minhash_params
        from hooqu_spark.pipeline.synth import make_doc

        a, b = _minhash_params(64)

        def naive_sig(text, k=3):
            words = (text or "").split()
            if len(words) < k:
                sh = {" ".join(words)}
            else:
                sh = {
                    " ".join(words[i : i + k])
                    for i in range(len(words) - k + 1)
                }
            hs = [
                int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
                for s in sh
            ]
            return [
                min((int(a[i]) * h + int(b[i])) % _MERSENNE for h in hs)
                for i in range(64)
            ]

        cases = [
            "", "one", "one two", "one two three", "a b c d e f g",
            "héllo wörld straße naïve 日本語 テスト mixé",  # multi-byte UTF-8
        ] + [make_doc(i)["text"] for i in range(10)]
        frame = spark.createDataFrame(
            list(enumerate(cases)), "id long, text string"
        )
        got = {
            r["id"]: r["signature"]
            for r in minhash_signatures(frame, "id").collect()
        }
        for i, text in enumerate(cases):
            assert got[i] == naive_sig(text), (i, text[:40])

    def test_signatures_deterministic_and_sized(self, docs):
        s1 = {r["id"]: r["signature"] for r in minhash_signatures(docs, "id").collect()}
        s2 = {r["id"]: r["signature"] for r in minhash_signatures(docs, "id").collect()}
        assert s1 == s2
        assert all(len(sig) == 64 for sig in s1.values())
        assert s1[0] == s1[1]  # identical text -> identical signature

    def test_candidates_and_dedup(self, docs):
        sigs = minhash_signatures(docs, "id")
        pairs = {
            (r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs).collect()
        }
        assert (0, 1) in pairs  # exact dup always a candidate
        out = minhash_dedup(docs, "id", threshold=0.8)
        ids = {r["id"] for r in out.collect()}
        assert 0 in ids and 1 not in ids  # exact dup dropped
        assert 2 not in ids  # near dup (1-word change) dropped
        assert {3, 4}.issubset(ids)  # unrelated docs survive

    def test_ngram_jaccard_dedup_exact_verify(self, docs):
        # survivors == brute-force greedy-by-id over exact shingle
        # Jaccard: a row drops iff ANY smaller id matches at >= t
        rows = {r["id"]: r["text"] for r in docs.collect()}
        for t in (0.5, 0.8):
            losers = set()
            for a, b in itertools.combinations(sorted(rows), 2):
                sa, sb = shingles(rows[a]), shingles(rows[b])
                if len(sa & sb) / len(sa | sb) >= t:
                    losers.add(b)
            assert 1 in losers, t
            out = ngram_jaccard_dedup(docs, "id", threshold=t)
            assert {r["id"] for r in out.collect()} == set(rows) - losers, t

    def test_jaccard_similar_pairs_matches_brute_force(self, docs):
        from hooqu_spark.ops import jaccard_similar_pairs

        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_similar_pairs(
                docs, "id", threshold=0.5
            ).collect()
        }

        rows = {r["id"]: r["text"] for r in docs.collect()}
        want = {}
        for a, b in itertools.combinations(sorted(rows), 2):
            sa, sb = shingles(rows[a]), shingles(rows[b])
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.5:
                want[(a, b)] = j
        assert set(got) == set(want)
        for k, v in want.items():
            assert got[k] == pytest.approx(v, abs=1e-12)


class TestDedupJobBudget:
    def test_jobs_before_an_action(self, docs, count_jobs):
        # each pair producer materializes its pair table once, before
        # it releases its persisted signatures or shingles; the
        # survivor step after it starts no job
        from hooqu_spark.ops import minhash_dedup_clusters

        budget = {
            minhash_dedup: 1,
            simhash_dedup: 1,
            ngram_jaccard_dedup: 1,
            # pair table + one round (one checkpoint, one star check)
            minhash_dedup_clusters: 3,
        }
        for fn, want in budget.items():
            _, jobs = count_jobs(lambda: fn(docs, "id"))
            assert jobs == want, fn.__name__


class TestSimHash:
    def test_simhash_matches_naive_md5_model(self, spark):
        # the fused bit-vote aggregate must reproduce the naive model:
        # token hash = md5 hex chars 1-8 (bits 0-31) | chars 9-16
        # (bits 32-63), bit set iff a strict majority of tokens (with
        # multiplicity) votes 1 — same rule the DuckDB oracle replays
        import hashlib

        from hooqu_spark.pipeline.synth import make_doc

        def naive_sig(text):
            words = (text or "").split()
            if not words:
                return 0
            votes = [0] * 64
            for w in words:
                hx = hashlib.md5(w.encode("utf-8")).hexdigest()
                h = int(hx[:8], 16) | (int(hx[8:16], 16) << 32)
                for i in range(64):
                    votes[i] += 1 if (h >> i) & 1 else -1
            v = sum(1 << i for i in range(64) if votes[i] > 0)
            return v - (1 << 64) if v >= (1 << 63) else v

        cases = [
            "", "one", "one two", "a a a b", "héllo wörld 日本語",
        ] + [make_doc(i)["text"] for i in range(10)]
        frame = spark.createDataFrame(
            list(enumerate(cases)), "id long, text string"
        )
        got = {
            r["id"]: r["simhash"]
            for r in simhash_signatures(frame, "id").collect()
        }
        for i, text in enumerate(cases):
            assert got[i] == naive_sig(text), (i, text[:40])

    def test_signature_properties(self, docs):
        sigs = {r["id"]: r["simhash"] for r in simhash_signatures(docs, "id").collect()}
        assert sigs[0] == sigs[1]
        assert sigs[0] != sigs[3]
        assert sigs[6] == 0  # empty text

    def test_dedup_drops_exact_and_near(self, docs):
        out = simhash_dedup(docs, "id", max_hamming=3)
        ids = {r["id"] for r in out.collect()}
        assert 0 in ids and 1 not in ids
        assert {3, 4}.issubset(ids)


class TestSimilarity:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rng = np.random.RandomState(0)
        mat = rng.standard_normal((200, 16))
        mat[7] = mat[3] * 1.001 + 0.0001  # near duplicate of row 3
        rows = [(i, [float(x) for x in mat[i]]) for i in range(200)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_brute_force_topk_matches_numpy(self, vecs):
        pdf = vecs.toPandas()
        mat = np.asarray(pdf["embedding"].tolist())
        q = mat[3]
        cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        expected = set(np.argsort(-cos)[:5].tolist())
        got = [r["vec_id"] for r in brute_force_topk(vecs, q.tolist(), k=5).collect()]
        assert set(got) == expected
        assert got[0] == 3  # self is the best match

    def test_cosine_similar_pairs_matches_numpy_brute_force(self, vecs):
        from hooqu_spark.ops import cosine_similar_pairs

        pdf = vecs.toPandas()
        mat = np.asarray(pdf["embedding"].tolist())
        norms = np.linalg.norm(mat, axis=1)
        cos = (mat @ mat.T) / np.outer(norms, norms)
        t = 0.5
        want = {
            (i, j): cos[i, j]
            for i in range(len(mat))
            for j in range(i + 1, len(mat))
            if cos[i, j] >= t
        }
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in cosine_similar_pairs(vecs, threshold=t).collect()
        }
        assert set(got) == set(want)
        for k, v in want.items():
            assert got[k] == pytest.approx(v, abs=1e-9)
        assert (3, 7) in got  # the engineered near-duplicate pair

    def test_cosine_zero_norm_vector_is_excluded_not_fatal(self, spark):
        # Under Spark 4 ANSI mode a plain division would throw
        # DIVIDE_BY_ZERO on a zero-norm embedding; try_divide yields
        # NULL, which fails >= threshold, so the degenerate vector is
        # excluded even at a negative threshold.
        from hooqu_spark.ops import cosine_similar_pairs

        df = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        got = {
            (r["id_a"], r["id_b"])
            for r in cosine_similar_pairs(df, threshold=-1.0).collect()
        }
        assert got == {(0, 2)}  # pairs touching vec 1 drop out as NULL

    def test_lsh_topk_finds_near_duplicate(self, vecs):
        pdf = vecs.toPandas()
        q = np.asarray(pdf["embedding"].tolist())[3]
        got = [
            r["vec_id"]
            for r in lsh_bucketed_topk(vecs, q.tolist(), k=3, n_planes=6).collect()
        ]
        assert got[0] == 3
        assert 7 in got  # the engineered near-dup lands in the same bucket

    def test_embedding_near_duplicates(self, vecs):
        pairs = embedding_near_duplicates(vecs, threshold=0.999).collect()
        assert any(r["id_a"] == 3 and r["id_b"] == 7 for r in pairs)

    def test_ivf_distributed_training_full_probe_exact(self, vecs):
        # the driver-sample k-means (the one trainer) + full probe must
        # equal the exact brute-force top-k
        from hooqu_spark.ops import brute_force_topk, ivf_topk

        pdf = vecs.toPandas()
        q = np.asarray(pdf["embedding"].tolist())[3].tolist()
        want = [r["vec_id"] for r in brute_force_topk(vecs, q, k=5).collect()]
        got = [
            r["vec_id"]
            for r in ivf_topk(
                vecs, q, k=5, n_centroids=8, n_probe=8,
            ).collect()
        ]
        assert got == want

    def test_ivf_distributed_partial_probe_recall(self, vecs):
        from hooqu_spark.ops import brute_force_topk, ivf_topk

        pdf = vecs.toPandas()
        q = np.asarray(pdf["embedding"].tolist())[3].tolist()
        want = {r["vec_id"] for r in brute_force_topk(vecs, q, k=5).collect()}
        got = {
            r["vec_id"]
            for r in ivf_topk(
                vecs, q, k=5, n_centroids=8, n_probe=4,
            ).collect()
        }
        # probing half the lists must still find the query itself and
        # its engineered near-duplicate
        assert {3, 7}.issubset(got)
        assert len(got & want) >= 3


def _left_fold_bucket(vec, planes):
    """Pure-Python sign-LSH bucket: each projection summed left to
    right from the first component, as the DuckDB oracle does; a NULL
    vector or element leaves the bit unset (SQL NULL > 0 is not true)."""
    if vec is None or None in vec:
        return 0
    code = 0
    for j in range(len(planes[0])):
        acc = vec[0] * planes[0][j]
        for i in range(1, len(vec)):
            acc = acc + vec[i] * planes[i][j]
        if acc > 0:
            code |= 1 << j
    return code


class TestSignLshBucketer:
    @pytest.mark.parametrize("dim", [3, 64, 384, 1024])
    def test_udf_matches_python_left_fold(self, spark, dim):
        from hooqu_spark.ops.similarity import _lsh_bucket_udf, _projection_planes

        planes = _projection_planes(dim, 10)
        rng = np.random.RandomState(dim)
        vecs = [rng.standard_normal(dim).tolist() for _ in range(8)]
        # multiples of 0.1 cancel: projections land within rounding
        # noise of 0, where the addition order decides the sign
        vecs += [np.round(rng.uniform(-1, 1, dim), 1).tolist() for _ in range(24)]
        null_elem = rng.standard_normal(dim).tolist()
        null_elem[dim // 2] = None
        vecs += [[0.0] * dim, None, null_elem]
        df = spark.createDataFrame(
            list(enumerate(vecs)), "vec_id long, embedding array<double>"
        )
        got = {
            r["vec_id"]: r["b"]
            for r in df.select(
                "vec_id", _lsh_bucket_udf(planes)("embedding").alias("b")
            ).collect()
        }
        pl = planes.tolist()
        assert got == {i: _left_fold_bucket(v, pl) for i, v in enumerate(vecs)}
        assert got[len(vecs) - 3] == got[len(vecs) - 2] == 0  # zero, NULL

    @pytest.mark.parametrize("dim,n_planes", [(384, 10), (768, 10), (1024, 8)])
    def test_near_duplicates_at_embedding_widths(self, spark, dim, n_planes):
        rng = np.random.RandomState(1)
        mat = rng.standard_normal((24, dim))
        mat[7] = mat[3] * 1.001 + 0.0001  # near duplicate of row 3
        df = spark.createDataFrame(
            [(i, mat[i].tolist()) for i in range(24)],
            "vec_id long, embedding array<double>",
        )
        pairs = embedding_near_duplicates(
            df, threshold=0.999, n_planes=n_planes
        ).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs} == {(3, 7)}

    def test_query_equal_to_a_row_shares_its_bucket(self, spark):
        from hooqu_spark.ops.similarity import _lsh_fold, _projection_planes

        dim, n_planes = 384, 8
        rng = np.random.RandomState(5)
        mat = np.round(rng.uniform(-1, 1, (200, dim)), 1)
        planes = _projection_planes(dim, n_planes)
        codes, _ = _lsh_fold(mat, planes)
        blas = (((mat @ planes) > 0) * (1 << np.arange(n_planes))).sum(axis=1)
        # prefer a row whose BLAS bucket differs from the fold's
        row = int(np.flatnonzero(codes != blas)[0]) if (codes != blas).any() else 0
        df = spark.createDataFrame(
            [(i, mat[i].tolist()) for i in range(len(mat))],
            "vec_id long, embedding array<double>",
        )
        got = lsh_bucketed_topk(
            df, mat[row].tolist(), k=1, n_planes=n_planes
        ).collect()
        assert [r["vec_id"] for r in got] == [row]


class TestDuplicateClustersAdversarial:
    def test_bridged_clusters_merge(self, spark):
        from hooqu_spark.ops import dedup_by_clusters, duplicate_clusters

        # two triangles bridged by one edge -> single cluster
        edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        labels = {
            r["id"]: r["cluster"]
            for r in duplicate_clusters(pairs).collect()
        }
        assert set(labels.values()) == {0}
        df = spark.createDataFrame(
            [(i,) for i in [0, 1, 2, 10, 11, 12, 99]], "id long"
        )
        survivors = {
            r["id"] for r in dedup_by_clusters(df, pairs, "id").collect()
        }
        assert survivors == {0, 99}


class TestText:
    def test_token_counts_matches_python(self, docs):
        got = {r["id"]: r["n_tokens"] for r in token_counts(docs).collect()}
        for row in docs.collect():
            assert got[row["id"]] == len([w for w in row["text"].split(" ") if w])

    def test_bpe_token_count_matches_regex_model(self, spark):
        # reference model: the same pattern run by the `regex` module
        # (Python `re` lacks \p{L}); leftmost-first alternation in all
        # three engines (Java, RE2, regex) makes the counts identical
        import regex as re_u

        from hooqu_spark.ops.text import BPE_TOKEN_PATTERN, bpe_token_count_col

        texts = [
            "it's we'll they're I've don't 2024 isn't",
            "café über naïve — em-dash…  multi   space",
            "plain words only",
            "numbers 123 456.789 mixed7tokens",
            "punct!!! runs??? (parens) [brackets] a'b",
            "",
            None,
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "id long, text string"
        )
        got = {
            r["id"]: r["n"]
            for r in df.select(
                "id", bpe_token_count_col("text").alias("n")
            ).collect()
        }
        for i, t in enumerate(texts):
            want = None if t is None else len(re_u.findall(BPE_TOKEN_PATTERN, t))
            assert got[i] == want, (i, t, got[i], want)

    def test_bpe_token_count_matches_duckdb(self, spark):
        # the contract oracle runs the SAME pattern through RE2 —
        # cross-engine agreement on unicode + contraction edge cases
        import duckdb

        from hooqu_spark.ops.text import BPE_TOKEN_PATTERN, bpe_token_count_col

        texts = [
            "it's we'll they're I've 2024",
            "café über … naïve's 'quoted'",
            "a\tb\nc  d",
            # vertical tab: Java \s includes \x0B, RE2's doesn't — the
            # explicit whitespace class in the pattern keeps the two
            # engines agreeing here
            "a\x0bb c",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "id long, text string"
        )
        got = {
            r["id"]: r["n"]
            for r in df.select(
                "id", bpe_token_count_col("text").alias("n")
            ).collect()
        }
        pat_sql = BPE_TOKEN_PATTERN.replace("'", "''")
        for i, t in enumerate(texts):
            (want,) = duckdb.sql(
                f"SELECT len(regexp_extract_all(?, '{pat_sql}'))", params=[t]
            ).fetchone()
            assert got[i] == want, (i, t, got[i], want)

    def test_fingerprints(self, docs):
        out = document_fingerprints(docs).collect()
        by_id = {r["id"]: r for r in out}
        assert by_id[0]["fp_exact"] == by_id[1]["fp_exact"]
        assert by_id[0]["fp_exact"] != by_id[3]["fp_exact"]
        # prefix fingerprint survives a suffix change
        assert by_id[0]["fp_prefix"] == by_id[2]["fp_prefix"]


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        rows = [
            (0, b"\x89PNG\r\n" + b"x" * 5000),
            (1, b"\xff\xd8\xff\xe0" + b"y" * 3000),
            (2, b"<html><body>hi</body></html>"),
            (3, None),
        ]
        return spark.createDataFrame(rows, "id long, html binary")

    def test_metadata(self, media):
        # decoder pinned to the deterministic fake: the default would
        # auto-select Pillow when importable, whose width for these
        # non-image payloads is NULL
        from hooqu_spark.ops.multimodal import FakeImageDecoder

        out = {
            r["id"]: r["media_meta"]
            for r in attach_binary_metadata(
                media, decoder=FakeImageDecoder()
            ).collect()
        }
        assert out[0]["format"] == "png"
        assert out[1]["format"] == "jpeg"
        assert out[2]["format"] == "html"
        assert out[3]["n_bytes"] == 0
        assert out[0]["width"] >= 64  # deterministic fake decode

    def test_custom_decoder_dispatch(self, media):
        # a real-decoder stand-in (defined in-function: cloudpickle
        # ships it by value) must receive the payload bytes and have
        # its metadata land in the struct — proves the production
        # Pillow path's dispatch without needing Pillow
        class RecordingDecoder:
            def decode_meta(self, payload):
                return ("probed", len(payload) % 100, 7)

        out = {
            r["id"]: r["media_meta"]
            for r in attach_binary_metadata(
                media, decoder=RecordingDecoder()
            ).collect()
        }
        assert out[0]["format"] == "probed"
        assert out[0]["height"] == 7
        assert out[0]["width"] == (5006 % 100)
        assert out[3].asDict() == {
            "n_bytes": 0, "format": "unknown", "width": None, "height": None,
        }  # NULL payloads never reach the decoder

    def test_default_decoder_selection_matches_environment(self):
        from hooqu_spark.ops.multimodal import (
            DETERMINISTIC_FAKE_DECODE,
            FakeImageDecoder,
            PillowImageDecoder,
            _PILLOW_AVAILABLE,
            default_image_decoder,
        )

        d = default_image_decoder()
        if _PILLOW_AVAILABLE:
            assert isinstance(d, PillowImageDecoder)
            assert not DETERMINISTIC_FAKE_DECODE
        else:
            assert isinstance(d, FakeImageDecoder)
            assert DETERMINISTIC_FAKE_DECODE

    def test_features_shape_and_determinism(self, media):
        a = {r["id"]: r["media_features"] for r in extract_binary_features(media).collect()}
        b = {r["id"]: r["media_features"] for r in extract_binary_features(media).collect()}
        assert a == b
        assert len(a[0]) == 16
        assert abs(sum(a[0]) - 1.0) < 1e-5

    def test_resize_deterministic_fake(self, media):
        from hooqu_spark.ops.multimodal import FakeImageResizer, resize_images

        a = {
            r["id"]: r["resized"]
            for r in resize_images(
                media, width=224, height=224, resizer=FakeImageResizer()
            ).collect()
        }
        b = {
            r["id"]: r["resized"]
            for r in resize_images(
                media, width=224, height=224, resizer=FakeImageResizer()
            ).collect()
        }
        assert a == b  # deterministic
        assert a[3] is None  # NULL payload stays NULL
        assert a[0] != a[1]  # distinct sources stay distinct
        for i in (0, 1, 2):
            payload = bytes(a[i])
            assert payload[:8] == b"FAKERSZ0"
            assert int.from_bytes(payload[8:12], "big") == 224
            assert int.from_bytes(payload[12:16], "big") == 224
            # output bounded regardless of input payload size
            assert len(payload) == 20

    def test_resize_custom_resizer_dispatch(self, media):
        # in-function stand-in (cloudpickle by value) proving the
        # production Pillow path's dispatch: receives payload + target
        # dims, its bytes land in the output column
        from hooqu_spark.ops.multimodal import resize_images

        class RecordingResizer:
            def resize(self, payload, width, height):
                return b"%dx%d:%d" % (width, height, len(payload))

        out = {
            r["id"]: r["resized"]
            for r in resize_images(
                media, width=64, height=32, resizer=RecordingResizer()
            ).collect()
        }
        assert bytes(out[0]) == b"64x32:5006"
        assert out[3] is None

    def test_default_resizer_selection_matches_environment(self):
        from hooqu_spark.ops.multimodal import (
            _PILLOW_AVAILABLE,
            FakeImageResizer,
            PillowImageResizer,
            default_image_resizer,
        )

        r = default_image_resizer()
        if _PILLOW_AVAILABLE:
            assert isinstance(r, PillowImageResizer)
        else:
            assert isinstance(r, FakeImageResizer)


class TestFingerprints:
    def test_md5_mode_matches_hashlib_model(self, spark):
        # the engine-portable mode must equal the naive model: 64 bits
        # = md5 hex chars 9-16 (high) | chars 1-8 (low), signed
        import hashlib

        from hooqu_spark.ops import document_fingerprints

        def model(s):
            hx = hashlib.md5(s.encode("utf-8")).hexdigest()
            v = (int(hx[8:16], 16) << 32) | int(hx[:8], 16)
            return v - (1 << 64) if v >= (1 << 63) else v

        rows = [(0, "hello world"), (1, "a b c d e f g h i j"), (2, "")]
        df = spark.createDataFrame(
            rows + [(3, None)], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["fp_exact"], r["fp_prefix"])
            for r in document_fingerprints(df, hash="md5").collect()
        }
        for i, text in rows:
            toks = [t for t in text.split(" ") if t][:8]
            assert got[i] == (model(text), model(" ".join(toks))), i
        assert got[3] == (None, None)  # NULL text -> NULL fingerprints
        xx = {
            r["doc_id"]: (r["fp_exact"], r["fp_prefix"])
            for r in document_fingerprints(df).collect()
        }
        assert xx[3] == (None, None)  # consistent across hash modes

    def test_unknown_hash_rejected(self, spark):
        from hooqu_spark.ops import document_fingerprints

        df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            document_fingerprints(df, hash="sha1")


class TestStarConnectedComponents:
    @staticmethod
    def _union_find_components(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in nodes}

    def test_matches_union_find_on_random_graphs(self, spark):
        import random

        from hooqu_spark.ops import duplicate_clusters

        for seed in range(6):
            rng = random.Random(seed)
            n = rng.randint(5, 60)
            n_edges = rng.randint(1, 2 * n)
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(n_edges)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            if not edges:
                continue
            nodes = sorted({x for e in edges for x in e})
            want = self._union_find_components(edges, nodes)
            pairs = spark.createDataFrame(edges, "id_a long, id_b long")
            got = {
                r["id"]: r["cluster"]
                for r in duplicate_clusters(pairs).collect()
            }
            assert got == want, (seed, sorted(edges))

    def test_long_chain_converges_in_log_rounds(self, spark):
        # a 200-node path needs ~200 label-propagation rounds but only
        # O(log n) star rounds — 12 iterations must fully collapse it
        from hooqu_spark.ops import duplicate_clusters

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(199)], "id_a long, id_b long"
        )
        labels = {
            r["id"]: r["cluster"]
            for r in duplicate_clusters(pairs, max_iterations=12).collect()
        }
        assert len(labels) == 200
        assert set(labels.values()) == {0}

    def test_star_forest_stops_after_one_round(self, spark, count_jobs):
        # disjoint pairs are a star forest after the first round: one
        # checkpoint job, one star-check job, then the collect
        from hooqu_spark.ops import duplicate_clusters

        pairs = spark.createDataFrame(
            [(2 * i, 2 * i + 1) for i in range(1000)], "id_a long, id_b long"
        )
        rows, jobs = count_jobs(lambda: duplicate_clusters(pairs).collect())
        assert {(r["id"], r["cluster"]) for r in rows} == {
            (i, i - i % 2) for i in range(2000)
        }
        assert jobs == 3


class TestIvfIndex:
    def test_build_probe_partition_pruned(self, spark, tmp_path, vecs_shared=None):
        import numpy as np

        from hooqu_spark.ops import (
            brute_force_topk,
            ivf_build_index,
            ivf_probe_index,
        )

        rng = np.random.RandomState(3)
        mat = rng.standard_normal((300, 8))
        rows = [(i, [float(x) for x in mat[i]]) for i in range(300)]
        vecs = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        path = str(tmp_path / "ivf")
        ivf_build_index(vecs, path, n_centroids=8)

        q = mat[5].tolist()
        # full probe == exact brute force
        want = [r["vec_id"] for r in brute_force_topk(vecs, q, k=5).collect()]
        got = [
            r["vec_id"]
            for r in ivf_probe_index(spark, path, q, k=5, n_probe=8).collect()
        ]
        assert got == want

        # partial probe: the query's own vector is always found, and the
        # scan is PARTITION-pruned (file-listing level, not a row filter)
        probe = ivf_probe_index(spark, path, q, k=5, n_probe=2)
        assert 5 in [r["vec_id"] for r in probe.collect()]
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        scan_line = plan[plan.index("PartitionFilters"):][:200]
        assert "ivf_list" in scan_line


class TestMinHashClusters:
    def test_chain_collapses_to_single_survivor(self, spark):
        # A~B and B~C similar but A!~C directly: the greedy policy
        # keeps A and C; the transitive policy keeps only A
        from hooqu_spark.ops import minhash_dedup, minhash_dedup_clusters

        base = ("w%d " * 30) % tuple(range(30))
        words = base.split()
        b = list(words); b[0] = "x0"; b[1] = "x1"; b[2] = "x2"
        c = list(b); b2 = list(b)
        c[27] = "y0"; c[28] = "y1"; c[29] = "y2"
        rows = [
            (0, " ".join(words)),   # A
            (1, " ".join(b2)),      # B ~ A (3/30 changed at the front)
            (2, " ".join(c)),       # C ~ B (3 more changed at the back)
            (9, "totally different content about spark exchanges"),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        transitive = {
            r["id"]
            for r in minhash_dedup_clusters(df, "id", threshold=0.6).collect()
        }
        assert transitive == {0, 9}
        greedy = {
            r["id"] for r in minhash_dedup(df, "id", threshold=0.6).collect()
        }
        assert greedy.issubset({0, 2, 9}) and 1 not in greedy

    def test_pairs_are_deduplicated_and_thresholded(self, docs):
        from hooqu_spark.ops import minhash_similar_pairs

        pairs = minhash_similar_pairs(docs, "id", threshold=0.8).collect()
        keys = [(r["id_a"], r["id_b"]) for r in pairs]
        assert len(keys) == len(set(keys))  # no duplicate pairs
        assert all(r["est_jaccard"] >= 0.8 for r in pairs)
        assert (0, 1) in keys  # the exact duplicate pair


class TestRepeatedSpanDedup:
    """Substring-level dedup: repeated k-token spans removed from all
    but their first (id, position) occurrence, text rebuilt from the
    surviving spans."""

    @pytest.fixture(scope="class")
    def span_docs(self, spark):
        boiler = "all rights reserved contact us terms of service apply"
        rows = [
            (0, "alpha beta gamma delta " + boiler),
            (1, "epsilon zeta eta theta " + boiler),  # repeated tail
            (2, boiler),  # nothing but the boilerplate
            (3, "iota kappa"),  # short unique doc
            (4, ""),  # empty
            (5, None),  # null text
        ]
        return spark.createDataFrame(rows, "id long, text string")

    @staticmethod
    def _reference(rows, k):
        """Independent pure-Python replay of the tile-mode contract."""
        first: dict = {}
        tiles = {}
        for i, text in rows:
            ws = [w for w in (text or "").split() if w]
            spans = [
                " ".join(ws[j : j + k]) for j in range(0, len(ws), k)
            ]
            tiles[i] = spans
            for idx, s in enumerate(spans):
                if s not in first or (i, idx) < first[s]:
                    first[s] = (i, idx)
        return {
            i: " ".join(
                s
                for idx, s in enumerate(spans)
                if first[s] == (i, idx)
            )
            for i, spans in tiles.items()
        }

    def test_tile_mode_matches_reference(self, spark, span_docs):
        from hooqu_spark.ops import repeated_span_dedup

        rows = [(r.id, r.text) for r in span_docs.collect()]
        for k in (2, 4, 8):
            got = {
                r.id: r.text
                for r in repeated_span_dedup(
                    span_docs, "id", span_tokens=k, mode="tile"
                ).collect()
            }
            assert got == self._reference(rows, k), f"k={k}"

    def test_tile_repeated_span_removed_once(self, spark, span_docs):
        from hooqu_spark.ops import repeated_span_dedup

        out = {
            r.id: r.text
            for r in repeated_span_dedup(
                span_docs, "id", span_tokens=4, mode="tile"
            ).collect()
        }
        boiler = "all rights reserved contact us terms of service apply"
        # doc 0 (smallest id) keeps the boilerplate; 1 and 2 lose it
        assert boiler in out[0]
        assert "reserved" not in out[1] and out[1].startswith("epsilon")
        assert out[2] == ""
        # unique / empty docs untouched (modulo whitespace normalize)
        assert out[3] == "iota kappa"
        assert out[4] == "" and out[5] == ""

    def test_within_doc_repeat_collapsed(self, spark):
        from hooqu_spark.ops import repeated_span_dedup

        df = spark.createDataFrame(
            [(0, "a b c d a b c d a b c d")], "id long, text string"
        )
        out = repeated_span_dedup(df, "id", span_tokens=4, mode="tile").collect()
        assert out[0].text == "a b c d"

    def test_cdc_mode_shift_robust(self, spark):
        """A long duplicated passage prefixed by different junk still
        dedups under CDC chunking (content-defined boundaries), while
        tile mode misses it (offset breaks tile alignment)."""
        from hooqu_spark.ops import repeated_span_dedup

        passage = (
            "spark shuffles hash partitions across executors while "
            "catalyst prunes columns and pushes filters into the scan "
            "so whole stage codegen keeps expressions inside the jvm"
        )
        df = spark.createDataFrame(
            [(0, passage), (1, "one two three " + passage)],
            "id long, text string",
        )
        cdc = {
            r.id: r.text
            for r in repeated_span_dedup(
                df, "id", mode="cdc", cdc_divisor=4
            ).collect()
        }
        # every CDC chunk of doc 0 reappears in doc 1's tail and is
        # removed there; only the unaligned head chunk(s) survive
        assert cdc[0] == " ".join(passage.split())
        assert "one two three" in cdc[1]
        assert len(cdc[1].split()) < len(passage.split())

    def test_cdc_chunks_cover_and_order(self, spark):
        """CDC rebuild with no duplicates reproduces each doc verbatim
        (whitespace-normalized) — chunking is a partition of the token
        sequence in order."""
        from hooqu_spark.ops import repeated_span_dedup

        rows = [
            (0, "one ring to rule them all and in the darkness bind"),
            (1, "ash nazg durbatuluk agh burzum ishi krimpatul"),
            (2, ""),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        out = {
            r.id: r.text
            for r in repeated_span_dedup(
                df, "id", mode="cdc", cdc_divisor=3
            ).collect()
        }
        for i, text in rows:
            assert out[i] == " ".join(text.split())

    def test_default_mode_dedups_three_token_shifted_duplicate(
        self, spark
    ):
        """The DEFAULT mode must catch a duplicated paragraph shifted
        by a handful of tokens — the round-4 gap: tile mode misses any
        shift < span_tokens, so the default is now CDC, whose
        content-defined boundaries are offset-independent."""
        from hooqu_spark.ops import repeated_span_dedup

        passage = (
            "the quarterly report shows revenue growth across every "
            "region with particularly strong performance in cloud "
            "services offsetting a decline in legacy hardware sales "
            "while operating margins expanded for the sixth consecutive "
            "quarter according to the chief financial officer"
        )
        df = spark.createDataFrame(
            [(0, passage), (1, "breaking news today " + passage)],
            "id long, text string",
        )
        out = {
            r.id: r.text
            for r in repeated_span_dedup(df, "id").collect()
        }
        # first occurrence intact; the 3-token-shifted copy loses the
        # duplicated passage body (only the junk head and at most one
        # boundary-straddling chunk survive)
        assert out[0] == " ".join(passage.split())
        assert out[1].startswith("breaking news today")
        assert len(out[1].split()) < 3 + len(passage.split()) // 2

    def test_bad_mode_raises(self, spark, span_docs):
        from hooqu_spark.ops import repeated_span_dedup

        with pytest.raises(ValueError, match="span mode"):
            repeated_span_dedup(span_docs, "id", mode="suffix")


class TestSemanticDedup:
    """SemDeDup-style embedding-cluster dedup (similarity.py)."""

    @pytest.fixture()
    def semvecs(self, spark):
        # 60 base vectors + near-exact copies of a few of them, so the
        # duplicate groups are unambiguous at threshold 0.99
        rng = np.random.RandomState(5)
        mat = rng.standard_normal((60, 12))
        rows = [(i, [float(x) for x in mat[i]]) for i in range(60)]
        for j, src in enumerate((3, 3, 17, 41)):
            dup = mat[src] * (1.0 + 1e-6)
            rows.append((100 + j, [float(x) for x in dup]))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    @staticmethod
    def _reference_survivors(rows, threshold):
        """Independent numpy reference: cosine pairs -> union-find ->
        min-id survivor per component."""
        ids = [i for i, _ in rows]
        mat = np.asarray([v for _, v in rows], dtype=np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        cos = np.round(mat @ mat.T, 6)
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                if cos[a, b] >= threshold:
                    ra, rb = find(ids[a]), find(ids[b])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        return {i for i in ids if find(i) == i}

    def test_exhaustive_matches_union_find_reference(self, semvecs):
        from hooqu_spark.ops import semantic_dedup

        rows = [(r.vec_id, r.embedding) for r in semvecs.collect()]
        got = {
            r.vec_id
            for r in semantic_dedup(
                semvecs, n_clusters=1, threshold=0.99, round_to=6
            ).collect()
        }
        assert got == self._reference_survivors(rows, 0.99)
        # the exact copies lost, their sources kept
        assert {3, 17, 41} <= got
        assert got.isdisjoint({100, 101, 102, 103})

    def test_clustered_prunes_exact_copies(self, semvecs):
        from hooqu_spark.ops import semantic_dedup

        # identical vectors always share an argmax cluster, so exact
        # copies are pruned at ANY n_clusters; blocking can only make
        # the op MISS cross-cluster near-dups, never drop extra rows
        exhaustive = {
            r.vec_id
            for r in semantic_dedup(
                semvecs, n_clusters=1, threshold=0.99, round_to=6
            ).collect()
        }
        clustered = {
            r.vec_id
            for r in semantic_dedup(
                semvecs, n_clusters=8, threshold=0.99, round_to=6
            ).collect()
        }
        assert clustered.isdisjoint({100, 101, 102, 103})
        assert exhaustive <= clustered

    def test_centroid_far_keeps_outlier_member(self, spark):
        from hooqu_spark.ops import semantic_dedup

        # Two clusters around distinct anchors.  Cluster members come
        # in symmetric ±noise pairs so their noise cancels out of the
        # centroid, making the centroid's direction predictable: ~ the
        # anchor.  The duplicate pair is (50: exactly the anchor,
        # 51: anchor + a fixed offset) — 51 has the LOWER centroid
        # cosine, so the SemDeDup policy must keep 51 and drop 50.
        rng = np.random.RandomState(9)
        anchors = rng.standard_normal((2, 8)) * 3
        noise = rng.standard_normal((5, 8))
        noise *= 2.0 / np.linalg.norm(noise, axis=1, keepdims=True)
        delta = rng.standard_normal(8)
        delta *= 0.4 / np.linalg.norm(delta)
        rows = []
        i = 0
        for c in range(2):
            for f in noise:
                rows.append((i, [float(x) for x in anchors[c] + f]))
                rows.append((i + 1, [float(x) for x in anchors[c] - f]))
                i += 2
        rows.append((50, [float(x) for x in anchors[0]]))
        rows.append((51, [float(x) for x in anchors[0] + delta]))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        out = {
            r.vec_id
            for r in semantic_dedup(
                df, n_clusters=2, threshold=0.995, keep="centroid_far",
                sample_size=64,
            ).collect()
        }
        # the off-anchor member survives; the near-centroid copy drops
        assert 51 in out and 50 not in out
        # min_id policy on the same data keeps 50 instead
        out_min = {
            r.vec_id
            for r in semantic_dedup(
                df, n_clusters=2, threshold=0.995, sample_size=64
            ).collect()
        }
        assert 50 in out_min and 51 not in out_min

    def test_policy_validation(self, semvecs):
        from hooqu_spark.ops import semantic_dedup

        with pytest.raises(ValueError, match="survivor policy"):
            semantic_dedup(semvecs, keep="random")
        with pytest.raises(ValueError, match="centroid_far"):
            semantic_dedup(semvecs, n_clusters=1, keep="centroid_far")

    def test_all_null_embeddings_survive_not_crash(self, spark):
        # zero non-NULL vectors: centroid training has no sample — the
        # op must return every row (NULL rows never pair) instead of
        # crashing numpy with an AxisError at the default n_clusters
        from hooqu_spark.ops import semantic_dedup, semantic_duplicate_pairs

        df = spark.createDataFrame(
            [(1, None), (2, None)], "vec_id long, embedding array<double>"
        )
        for keep in ("min_id", "centroid_far"):
            got = {r.vec_id for r in semantic_dedup(df, keep=keep).collect()}
            assert got == {1, 2}, keep
        pairs = semantic_duplicate_pairs(df)
        assert pairs.count() == 0
        assert pairs.columns == ["id_a", "id_b", "cosine"]

    def test_empty_centroid_training_raises_clear_error(self, spark):
        from hooqu_spark.ops.similarity import _train_centroids

        df = spark.createDataFrame(
            [(1, None)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="no non-NULL vectors"):
            _train_centroids(df, "embedding", "vec_id", 4)

    def test_pairs_round_and_threshold(self, semvecs):
        from hooqu_spark.ops import semantic_duplicate_pairs

        pairs = semantic_duplicate_pairs(
            semvecs, n_clusters=1, threshold=0.99, round_to=6
        ).collect()
        assert {(p.id_a, p.id_b) for p in pairs} >= {
            (3, 100), (3, 101), (100, 101), (17, 102), (41, 103)
        }
        for p in pairs:
            assert p.cosine >= 0.99

    def test_pairs_start_one_job_the_training_sample(
        self, semvecs, count_jobs
    ):
        # emptiness is read off the trainer's own sample: no separate
        # probe job before the (lazy) pair frame comes back
        from hooqu_spark.ops import semantic_duplicate_pairs

        _, jobs = count_jobs(
            lambda: semantic_duplicate_pairs(semvecs, n_clusters=4)
        )
        assert jobs == 1


class TestNullEmbeddingRobustness:
    """A web-scale embeddings table WILL contain NULL rows (failed
    encoder calls); no similarity operator may crash on them, rank
    them (Spark sorts NaN as the largest double), or dedup them."""

    @pytest.fixture()
    def nvecs(self, spark):
        rng = np.random.RandomState(3)
        rows = [
            (i, [float(x) for x in rng.standard_normal(6)])
            for i in range(30)
        ]
        rows += [(90, rows[4][1]), (99, None)]  # a dup + a NULL
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_brute_force_topk_never_ranks_null(self, nvecs):
        q = nvecs.where("vec_id = 4").first().embedding
        got = [r.vec_id for r in brute_force_topk(nvecs, q, k=3).collect()]
        assert 99 not in got
        assert set(got[:2]) == {4, 90}  # the vector and its copy win
        every = [r.vec_id for r in brute_force_topk(nvecs, q, k=40).collect()]
        assert 99 not in every and len(every) == 31

    def test_semantic_dedup_null_survives_both_modes(self, nvecs):
        from hooqu_spark.ops import semantic_dedup

        for k in (1, 4):
            out = {
                r.vec_id
                for r in semantic_dedup(
                    nvecs, n_clusters=k, threshold=0.999,
                    round_to=6, sample_size=64,
                ).collect()
            }
            assert 99 in out, k  # NULL row survives, never crashes
            assert 90 not in out and 4 in out, k  # real dup still drops

    def test_ivf_index_excludes_null(self, nvecs, tmp_path):
        from hooqu_spark.ops import ivf_build_index, ivf_probe_index

        path = str(tmp_path / "nullivf")
        ivf_build_index(nvecs, path, n_centroids=4)
        spark = nvecs.sparkSession
        indexed = spark.read.parquet(path)
        assert indexed.where("vec_id = 99").count() == 0
        assert indexed.count() == 31
        q = nvecs.where("vec_id = 4").first().embedding
        got = [
            r.vec_id
            for r in ivf_probe_index(spark, path, q, k=2, n_probe=4).collect()
        ]
        assert set(got) == {4, 90}

    def test_ivf_topk_all_null_is_empty(self, spark):
        # nothing to train centroids on and nothing to rank: an empty
        # top-k with the usual schema, not a crash
        from hooqu_spark.ops import ivf_topk

        allnull = spark.createDataFrame(
            [(0, None), (1, None)], "vec_id long, embedding array<double>"
        )
        out = ivf_topk(allnull, [1.0, 2.0], k=3, n_centroids=2)
        assert out.columns == ["vec_id", "cosine"]
        assert out.collect() == []

    def test_near_duplicates_skip_null(self, nvecs):
        pairs = embedding_near_duplicates(
            nvecs, threshold=0.999, n_planes=2
        ).collect()
        ids = {p.id_a for p in pairs} | {p.id_b for p in pairs}
        assert 99 not in ids
        assert (4, 90) in {(p.id_a, p.id_b) for p in pairs}

    def test_near_duplicates_all_null_or_nullfirst(self, spark):
        # dim probing must skip NULL rows and an all-NULL table must
        # yield an empty pair frame, not a crash
        df = spark.createDataFrame(
            [(0, None), (1, [1.0, 2.0]), (2, [1.0, 2.0])],
            "vec_id long, embedding array<double>",
        )
        pairs = embedding_near_duplicates(df, threshold=0.999, n_planes=2)
        assert {(p.id_a, p.id_b) for p in pairs.collect()} == {(1, 2)}
        allnull = spark.createDataFrame(
            [(0, None)], "vec_id long, embedding array<double>"
        )
        out = embedding_near_duplicates(allnull, threshold=0.9)
        assert out.count() == 0
        assert set(out.columns) == {"id_a", "id_b", "cosine"}

    def test_semantic_dedup_distributed_training_path(self, nvecs):
        # semantic dedup at its default sample size (which covers the
        # whole table here) must still drop the exact copy
        from hooqu_spark.ops import semantic_dedup

        out = {
            r.vec_id
            for r in semantic_dedup(
                nvecs, n_clusters=4, threshold=0.999, round_to=6,
            ).collect()
        }
        assert 99 in out and 4 in out and 90 not in out


class TestNormalizedText:
    def test_normalization_modes(self, spark):
        from hooqu_spark.ops import normalized_text_col

        df = spark.createDataFrame(
            [
                (0, "  The QUICK   brown\tfox!  "),
                (1, "the quick brown fox!"),
                (2, None),
            ],
            "id long, text string",
        )
        full = {
            r["id"]: r["n"]
            for r in df.select(
                "id",
                normalized_text_col(
                    "text", strip_punctuation=True
                ).alias("n"),
            ).collect()
        }
        assert full[0] == full[1] == "the quick brown fox"
        assert full[2] is None
        # default keeps punctuation
        dflt = {
            r["id"]: r["n"]
            for r in df.select(
                "id", normalized_text_col("text").alias("n")
            ).collect()
        }
        assert dflt[0] == dflt[1] == "the quick brown fox!"
        # case-sensitive mode distinguishes the two
        cs = {
            r["id"]: r["n"]
            for r in df.select(
                "id", normalized_text_col("text", lowercase=False).alias("n")
            ).collect()
        }
        assert cs[0] != cs[1]

    def test_feeds_exact_dedup(self, spark):
        from hooqu_spark.ops import exact_dedup, normalized_text_col

        df = spark.createDataFrame(
            [(0, "Hello  World"), (1, "hello world"), (2, "bye")],
            "id long, text string",
        )
        keyed = df.withColumn("_k", normalized_text_col("text"))
        ids = {r["id"] for r in exact_dedup(keyed, ["_k"], "id").collect()}
        assert ids == {0, 2}
