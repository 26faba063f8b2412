"""Similarity search over an embedding column (``array<float>``).

Baseline: brute-force cosine top-k — the query vector broadcasts as a
plain Python closure constant into an Arrow-batched numpy matmul
(one GEMV per batch), and ``orderBy().limit(k)`` compiles to Spark's
TakeOrderedAndProject (per-partition heap + driver merge, no global
sort).

Scale path: LSH-bucketed search (signed random projections).  Vectors
land in 2^n_planes buckets; queries probe only their own bucket (plus
optional multi-probe neighbors), so the scan narrows by ~2^n_planes
while recall stays high for near neighbors.
"""

from __future__ import annotations

from typing import Iterator, List, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _vec_matrix(col: pd.Series, dim: int) -> np.ndarray:
    """Arrow batch -> (n, dim) float64 matrix.  NULL (or wrong-length)
    vectors become all-NaN rows instead of crashing the whole batch
    (``np.asarray`` over a ragged list raises) — NaN propagates to a
    NaN score / NaN assignment similarity that callers filter.  The
    homogeneous fast path stays a single zero-copy asarray."""
    vals = col.tolist()
    try:
        mat = np.asarray(vals, dtype=np.float64)
        if mat.ndim == 2 and mat.shape[1] == dim:
            return mat
    except (ValueError, TypeError):
        pass
    mat = np.full((len(vals), dim), np.nan)
    for i, v in enumerate(vals):
        if v is not None and len(v) == dim:
            mat[i] = v
    return mat


def _cosine_udf(query_vec: Sequence[float]):
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    @pandas_udf("double")
    def cos(col: pd.Series) -> pd.Series:
        mat = _vec_matrix(col, len(q))  # (batch, dim)
        norms = np.linalg.norm(mat, axis=1)
        dots = mat @ q
        denom = norms * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom > 0, dots / denom, 0.0)
        out[np.isnan(norms)] = np.nan  # NULL/ragged rows never rank
        return pd.Series(out)

    return cos


def cosine_scores(
    df: DataFrame, query_vec: Sequence[float], vec_col: str = "embedding"
) -> DataFrame:
    """Per-row cosine vs the query (NULL/ragged vectors score NaN)."""
    return df.withColumn("cosine", _cosine_udf(query_vec)(F.col(vec_col)))


def brute_force_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine; deterministic tie-break on id.

    NaN scores (NULL/degenerate vectors) are excluded BEFORE the sort:
    Spark orders NaN as the LARGEST double, so an unfiltered NULL
    embedding would otherwise win every descending top-k."""
    scored = cosine_scores(df, query_vec, vec_col)
    return (
        scored.select(id_col, "cosine")
        .where(F.col("cosine").isNotNull() & ~F.isnan("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _projection_planes(dim: int, n_planes: int, seed: int = 13) -> np.ndarray:
    """Deterministic Rademacher (±1) hyperplanes derived from md5 over
    ``(seed, plane, component)`` — engine-portable: integer-exact
    coefficients let any SQL engine replay the sign projection
    bit-for-bit (the numpy-Gaussian construction this replaces could
    not be replayed — BLAS sums in unspecified order over irrational
    literals).  Sign-random projections with ±1 entries carry the same
    cosine-LSH guarantee as Gaussian ones (Charikar '02 simhash
    argument); same derivation pattern as
    :func:`hooqu_spark.ops.dedup._minhash_params`."""
    import hashlib

    out = np.empty((dim, n_planes), dtype=np.float64)
    for j in range(n_planes):
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{j}:{i}".encode()).digest()
            out[i, j] = 1.0 if (h[0] & 1) else -1.0
    return out


def _lsh_fold(mat: np.ndarray, planes: np.ndarray):
    """``(codes, projections)`` of the rows of ``mat`` (batch, dim).
    Each projection is a left fold over the components,
    ``((e[1]*p1 + e[2]*p2) + e[3]*p3) + …`` — the addition order the
    DuckDB oracle replays, bit for bit, at any width (``x * ±1.0`` is
    exact and ``0.0 + x == x``; a BLAS matmul sums in an unspecified
    order).  Bit j of a code is set iff projection j is > 0, so a NaN
    row (NULL vector) or a NaN element leaves its bits unset, as a
    NULL does in SQL."""
    acc = np.zeros((mat.shape[0], planes.shape[1]))
    for i in range(planes.shape[0]):
        acc += mat[:, i : i + 1] * planes[i]
    weights = 1 << np.arange(planes.shape[1], dtype=np.int64)
    return ((acc > 0) * weights).sum(axis=1), acc


def _lsh_bucket_udf(planes: np.ndarray):
    """Arrow-batched sign-LSH bucket id over an embedding column."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def bucket(col: pd.Series) -> pd.Series:
        codes, _ = _lsh_fold(_vec_matrix(col, planes.shape[0]), planes)
        return pd.Series(codes)

    return bucket


def _multiprobe_buckets(
    q: np.ndarray, planes: np.ndarray, n_probes: int
) -> List[int]:
    """Query bucket + the neighboring codes most likely to hold near
    neighbors (classic multi-probe LSH): flip subsets of the bits whose
    projection margin |q·plane| is smallest, in increasing order of
    total flipped margin."""
    import heapq
    import itertools

    # the bucketer's own fold: a query equal to a row shares its bucket
    codes, proj = _lsh_fold(q[None, :], planes)
    base, proj = int(codes[0]), proj[0]
    n_planes = planes.shape[1]
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    if n_probes <= 1:
        return [base]
    margins = np.abs(proj)
    order = np.argsort(margins)  # cheapest bits to flip first
    # enumerate flip-sets by total margin with a small heap
    heap = [(margins[order[0]], (0,))]
    seen = {(0,)}
    out = [base]
    while heap and len(out) < n_probes:
        cost, flips = heapq.heappop(heap)
        code = base
        for f in flips:
            code ^= int(weights[order[f]])
        out.append(code)
        last = flips[-1]
        if last + 1 < n_planes:
            grow = flips + (last + 1,)
            if grow not in seen:
                seen.add(grow)
                heapq.heappush(heap, (cost + margins[order[last + 1]], grow))
            swap = flips[:-1] + (last + 1,)
            if swap not in seen:
                seen.add(swap)
                heapq.heappush(
                    heap,
                    (cost - margins[order[last]] + margins[order[last + 1]], swap),
                )
    return out


def lsh_bucketed_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 13,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: scan only the query's LSH bucket(s).

    ``n_probes > 1`` enables multi-probe LSH — also scan the buckets
    reachable by flipping the lowest-margin hyperplane bits, raising
    recall without adding hash tables (Lv et al., VLDB'07 scheme).

    At 10^12 vectors, pre-materialize the bucket column and
    partition/Z-order the table by it so each probe is a
    partition-pruned scan instead of a full pass.
    """
    q = np.asarray(query_vec, dtype=np.float64)
    planes = _projection_planes(len(q), n_planes, seed)
    probes = _multiprobe_buckets(q, planes, n_probes)

    bucketed = df.withColumn("_bucket", _lsh_bucket_udf(planes)(F.col(vec_col)))
    probe = bucketed.where(F.col("_bucket").isin(probes))
    return brute_force_topk(probe, query_vec, k, vec_col, id_col)


class _NoVectors(ValueError):
    """The input has no non-NULL vector to train centroids on."""


def _train_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int,
    sample_size: int = 4096,
    n_iters: int = 8,
    seed: int = 29,
) -> np.ndarray:
    """Deterministic spherical k-means on a driver-side sample — the
    one trainer behind IVF and SemDeDup.

    The sample is the first ``sample_size`` non-NULL rows by id
    (deterministic, one TakeOrderedAndProject job), so driver memory is
    bounded by ``sample_size x dim`` whatever the table size; Lloyd
    iterations run in numpy on L2-normalized vectors.  ``k`` is clamped
    to the sample size (small-table fallback); an input without a
    non-NULL vector raises ``ValueError``."""
    sample = (
        df.where(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_size)
        .collect()
    )
    if not sample:
        # without the guard the empty ndarray (ndim 1) crashes
        # norm(axis=1) with an opaque AxisError
        raise _NoVectors(
            "cannot train centroids: the input has no non-NULL vectors"
        )
    mat = np.asarray([r[1] for r in sample], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    n_centroids = min(n_centroids, len(mat))
    centroids = mat[rng.choice(len(mat), size=n_centroids, replace=False)]
    for _ in range(n_iters):
        sims = mat @ centroids.T  # cosine on normalized vectors
        assign = sims.argmax(axis=1)
        for c in range(n_centroids):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids /= np.maximum(
            np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
        )
    return centroids


def ivf_assign_udf(centroids: np.ndarray):
    """Arrow GEMV assignment of each vector to its nearest centroid:
    ``struct<list: int, sim: double>`` — the list id and the winning
    cosine (SemDeDup's keep-farthest-from-centroid policy reads it).
    NaN rows (NULL vectors) argmax to list 0 with a NaN sim; exclude
    NULL vectors upstream where the assignment matters."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<list: int, sim: double>")
    def assign(col: pd.Series) -> pd.DataFrame:
        mat = _vec_matrix(col, centroids.shape[1])
        with np.errstate(invalid="ignore"):
            mat /= np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            sims = mat @ centroids.T
        best = sims.argmax(axis=1)
        return pd.DataFrame(
            {
                "list": best.astype(np.int32),
                "sim": sims[np.arange(len(best)), best],
            }
        )

    return assign


def ivf_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 29,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: assign every vector to
    its nearest of ``n_centroids`` spherical-k-means centroids, then
    scan only the ``n_probe`` lists nearest the query.

    Scale path: materialize the assignment once and partition the
    table by it — the probe becomes a partition-pruned scan of
    ``n_probe/n_centroids`` of the data.  Recall rises with
    ``n_probe`` (== n_centroids is exhaustive/exact).  A table with no
    non-NULL vector has nothing to train on or rank: the result is
    empty."""
    try:
        centroids = _train_centroids(
            df, vec_col, id_col, n_centroids, seed=seed
        )
    except _NoVectors:
        return brute_force_topk(df, query_vec, k, vec_col, id_col)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe_lists = np.argsort(-(centroids @ qn))[:n_probe].tolist()

    assigned = df.withColumn(
        "_ivf_list", ivf_assign_udf(centroids)(F.col(vec_col))["list"]
    )
    probed = assigned.where(F.col("_ivf_list").isin(probe_lists))
    return brute_force_topk(probed, query_vec, k, vec_col, id_col)


def ivf_build_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    seed: int = 29,
) -> np.ndarray:
    """Materialize the IVF index the docstrings promise: assign every
    vector to its list ONCE and write the table PARTITIONED BY the list
    id (plus a ``<path>_centroids`` parquet of the trained centroids).

    A probe then reads only ``n_probe`` of ``n_centroids`` partition
    directories — real partition pruning at the file-listing level
    (``PartitionFilters`` in the scan), which is the difference between
    "skip rows after reading" and "never open the files" at 10^12
    vectors."""
    spark = df.sparkSession
    centroids = _train_centroids(df, vec_col, id_col, n_centroids, seed=seed)
    # NULL-embedding rows are excluded from the index: they can never
    # be a nearest neighbor, and assigning them to a real list would
    # pollute that partition's scan
    assigned = df.where(F.col(vec_col).isNotNull()).withColumn(
        "ivf_list", ivf_assign_udf(centroids)(F.col(vec_col))["list"]
    )
    assigned.write.partitionBy("ivf_list").mode("overwrite").parquet(path)
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "list_id int, centroid array<double>",
    ).write.mode("overwrite").parquet(path + "_centroids")
    return centroids


def ivf_probe_index(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k over a materialized IVF index: load centroids, pick the
    ``n_probe`` nearest lists, scan ONLY those partition directories
    (``ivf_list`` is the physical partition column, so the ``isin``
    prunes at file listing)."""
    rows = spark.read.parquet(path + "_centroids").orderBy("list_id").collect()
    centroids = np.asarray([r["centroid"] for r in rows], dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = [int(i) for i in np.argsort(-(centroids @ qn))[:n_probe]]
    indexed = spark.read.parquet(path).where(F.col("ivf_list").isin(probes))
    return brute_force_topk(indexed, query_vec, k, vec_col, id_col)


def pairwise_cosine(vec_a: F.Column, vec_b: F.Column) -> F.Column:
    """JVM-side cosine between two array<double> columns — the one
    cosine expression of :func:`cosine_similar_pairs`,
    :func:`embedding_near_duplicates` and
    :func:`semantic_duplicate_pairs`, whose DuckDB oracles replay it:
    zip_with/aggregate sequential sums, and ``try_divide`` so a
    zero-norm (degenerate) vector yields NULL instead of throwing
    DIVIDE_BY_ZERO under ANSI mode.  NULL fails any ``>= threshold``,
    so degenerate vectors are silently excluded; the oracles need no
    guard (``list_cosine_similarity`` yields NaN for a zero-norm
    vector, and NaN fails the threshold too)."""
    dot = F.aggregate(
        F.zip_with(vec_a, vec_b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

    def norm(c: F.Column) -> F.Column:
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x * x),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )

    return F.try_divide(dot, norm(vec_a) * norm(vec_b))


def cosine_similar_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_to: int | None = None,
) -> DataFrame:
    """EXACT all-pairs cosine similarity join: every ``(id_a, id_b)``
    with ``id_a < id_b`` and cosine >= threshold — recall 1.0, the
    oracle-able complement to :func:`embedding_near_duplicates` (which
    shares :func:`pairwise_cosine` but only verifies within LSH
    buckets).

    O(n^2) by construction (broadcast nested-loop join on the id
    inequality), so this is the small-table exact baseline and the
    contract check for the cosine arithmetic; at 10^12 vectors use the
    LSH-bucketed variant.  ``round_to`` rounds the cosine BEFORE the
    threshold comparison — set it when cross-engine reproducibility of
    the borderline decisions matters (the driver contract uses 6)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    cosine = pairwise_cosine(F.col("_va"), F.col("_vb"))
    if round_to is not None:
        cosine = F.round(cosine, round_to)
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
    n_planes: int = 10,
    seed: int = 13,
    round_to: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, LSH-bucketed: exact
    cosine (:func:`pairwise_cosine`) is verified only within buckets.

    Bucketing projects onto the md5-derived ±1 planes with
    :func:`_lsh_fold`'s fixed left-to-right addition order, so the whole
    operator (buckets AND verify) is replayable by the DuckDB oracle
    at any embedding width.  ``round_to`` rounds the cosine
    BEFORE thresholding (cross-engine borderline stability — the
    driver contract uses 6), same contract as
    :func:`cosine_similar_pairs`."""
    probe = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    if probe is None:  # no non-NULL vectors -> no pairs
        id_t = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"id_a {id_t}, id_b {id_t}, cosine double"
        )
    planes = _projection_planes(len(probe[0]), n_planes, seed)
    # the UDF never returns NULL; saying so keeps the join from
    # inferring an isnotnull(_bucket) filter that runs the UDF twice
    bucket = F.coalesce(_lsh_bucket_udf(planes)(F.col(vec_col)), F.lit(0))
    bucketed = df.withColumn("_bucket", bucket).select(
        id_col, vec_col, "_bucket"
    )
    l, r = bucketed.alias("l"), bucketed.alias("r")
    cosine = pairwise_cosine(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"))
    if round_to is not None:
        cosine = F.round(cosine, round_to)
    return (
        l.join(
            r,
            (F.col("l._bucket") == F.col("r._bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            cosine.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Semantic (embedding-cluster) dedup — SemDeDup
# ---------------------------------------------------------------------------

def semantic_duplicate_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 256,
    threshold: float = 0.95,
    round_to: int | None = None,
    sample_size: int = 4096,
    n_iters: int = 8,
    seed: int = 29,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Within-cluster near-duplicate pairs ``(id_a, id_b, cosine)`` —
    the pair stage of SemDeDup (Abbas et al., arXiv:2303.09540):
    spherical-k-means cluster ids are the BLOCKING key, so the cosine
    join is a cluster-keyed equi-join (all-pairs only within a
    cluster, never globally).  At 100 TB pick ``n_clusters ~ n_docs /
    desired_cluster_size`` so per-cluster pair work stays bounded;
    a pathologically hot cluster is capped upstream the same way hot
    keys are elsewhere (:func:`hooqu_spark.ops.cap_per_key` on the
    cluster id).

    ``n_clusters <= 1`` skips training and blocks everything together
    — exhaustive exact mode (recall 1.0), the correctness/oracle
    configuration the driver contract grades (the partial-cluster
    recall trade-off is covered by pytest, same pattern as
    ``ivf_topk``'s full-probe grading).  ``round_to`` rounds the
    cosine BEFORE thresholding (cross-engine borderline stability).

    NULL-embedding rows never pair (a NULL cosine fails any
    threshold), so they are excluded here up front — which also means
    they always SURVIVE :func:`semantic_dedup`.

    ``centroids`` lets a caller that already trained the k-means model
    (``semantic_dedup``'s centroid_far policy needs it again for the
    survivor scoring) pass it in instead of retraining."""
    df = df.where(F.col(vec_col).isNotNull())
    if n_clusters > 1 and centroids is None:
        try:
            centroids = _train_centroids(
                df, vec_col, id_col, n_clusters, sample_size, n_iters, seed
            )
        except _NoVectors:
            # nothing to cluster or pair: the single-block branch
            # returns a valid empty result with the pair schema
            n_clusters = 1
    if n_clusters <= 1:
        assigned = df.select(
            F.col(id_col), F.col(vec_col), F.lit(0).alias("_sem_list")
        )
    else:
        # the UDF never returns NULL; saying so keeps the join from
        # inferring an isnotnull(_la) filter that runs the UDF twice
        cluster = F.coalesce(
            ivf_assign_udf(centroids)(F.col(vec_col))["list"], F.lit(-1)
        )
        assigned = df.select(
            F.col(id_col), F.col(vec_col), cluster.alias("_sem_list")
        )
    l = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.col("_sem_list").alias("_la"),
    )
    r = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_sem_list").alias("_lb"),
    )
    cosine = pairwise_cosine(F.col("_va"), F.col("_vb"))
    if round_to is not None:
        cosine = F.round(cosine, round_to)
    cond = F.col("id_a") < F.col("id_b")
    if n_clusters > 1:
        cond = (F.col("_la") == F.col("_lb")) & cond
        joined = l.join(r, cond)
    else:
        # single block: broadcast nested-loop on the id inequality,
        # the small-table exact baseline (cosine_similar_pairs shape)
        joined = l.join(F.broadcast(r), cond)
    return joined.select(
        "id_a", "id_b", cosine.alias("cosine")
    ).where(F.col("cosine") >= threshold)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 256,
    threshold: float = 0.95,
    round_to: int | None = None,
    keep: str = "min_id",
    sample_size: int = 4096,
    n_iters: int = 8,
    seed: int = 29,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540):
    cluster embeddings, prune near-duplicates (cosine >= threshold)
    within each cluster, keep one survivor per transitive duplicate
    group.  The standard semantic-dedup shape for a web-scale corpus —
    cluster id as the blocking key bounds the pair join; components
    close via the O(log n) large-star/small-star scheme shared with
    :func:`hooqu_spark.ops.dedup.dedup_by_clusters`.

    Survivor policies:

    * ``keep="min_id"`` (default): smallest id per duplicate group —
      deterministic and engine-replayable (the contract oracle replays
      it with a recursive closure).
    * ``keep="centroid_far"``: the paper's policy — keep the group
      member with the LOWEST cosine to its cluster centroid
      (preserves the cluster's outer shell, pruning redundant
      near-centroid mass); ties break to the smaller id.  Requires
      ``n_clusters > 1`` (with a single block there is no centroid).

    Returns the surviving rows of ``df`` (all original columns)."""
    if keep not in ("min_id", "centroid_far"):
        raise ValueError(f"unknown survivor policy: {keep!r}")
    if keep == "centroid_far" and n_clusters <= 1:
        raise ValueError(
            "keep='centroid_far' needs n_clusters > 1 (a single block"
            " has no centroid to measure against)"
        )
    # centroid_far needs the trained model twice (blocking + survivor
    # scoring) — train ONCE here and thread it through
    centroids = None
    if keep == "centroid_far":
        try:
            centroids = _train_centroids(
                df, vec_col, id_col, n_clusters, sample_size, n_iters, seed
            )
        except _NoVectors:
            # no non-NULL embeddings -> no pairs -> every row survives
            return df
    pairs = semantic_duplicate_pairs(
        df, id_col, vec_col, n_clusters, threshold, round_to,
        sample_size, n_iters, seed, centroids,
    )
    if keep == "min_id":
        from .dedup import dedup_by_clusters

        return dedup_by_clusters(df, pairs, id_col)
    from .dedup import duplicate_clusters
    comps = duplicate_clusters(pairs)  # (id, cluster-min id)
    sims = df.select(
        F.col(id_col).alias("id"),
        ivf_assign_udf(centroids)(F.col(vec_col))["sim"].alias("_sim"),
    )
    # survivor per duplicate group: argmin centroid-cosine, tie -> min
    # id; one tiny groupBy over (component, member) rows
    winners = (
        comps.join(sims, "id")
        .groupBy("cluster")
        .agg(F.min(F.struct("_sim", "id")).alias("_w"))
        .select(F.col("_w.id").alias("id"))
    )
    losers = comps.join(winners, "id", "left_anti").select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
