"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram
Jaccard.

Scale design: no all-pairs comparison ever materializes.  Candidate
generation is bucket-based (LSH bands / simhash chunks), so the only
shuffles are (a) groupBy on band keys and (b) a self-join restricted to
bucket-equal rows.  Signatures are computed entirely JVM-side inside
whole-stage codegen: shingles are Catalyst array expressions, the
shingle/token hash is the md5-derived 32-bit uniform hash (first 8 hex
chars of md5 — reproducible bit-for-bit in DuckDB, so signatures and
dedup survivor sets are oracle-verifiable cross-engine), and the
min-reduction / bit-vote runs as a fused columnar aggregate with
map-side partial combine.  No Python executes per row anywhere in this
module.

Survivor policy (deterministic): within a duplicate cluster the row
with the smallest id survives; a row is dropped if ANY
smaller-id candidate matches at >= threshold (greedy-by-id, one pass —
at 10^12 docs full transitive closure needs iterative label
propagation; the greedy policy needs none).  Every pair-based deduper
is a producer of an ``(id_a, id_b, ...)`` pair table with
``id_a < id_b`` followed by :func:`_drop_pair_losers`, the one step
that drops each pair's ``id_b``.
"""

from __future__ import annotations

from typing import List

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_MERSENNE = (1 << 61) - 1
# a_i < 2^30 keeps a_i * h + b_i < 2^62 + 2^61 < 2^63 for 32-bit h, so
# the universal-hash arithmetic is exact in BOTH Spark's signed
# LongType and DuckDB's UBIGINT — no overflow, no engine divergence.
_MAX_A = 1 << 30


def exact_dedup(df: DataFrame, subset: List[str], id_col: str) -> DataFrame:
    """Keep the smallest-id row per exact key combination.

    Hash-shuffle on the key columns only; equivalent SQL:
    ``SELECT * FROM t QUALIFY row_number() OVER
    (PARTITION BY subset ORDER BY id) = 1``.
    """
    w = Window.partitionBy(*subset).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    key_cols: List[str],
    broadcast_reference: bool = False,
) -> DataFrame:
    """Incremental dedup: drop rows of ``df`` whose key already exists
    in an already-ingested ``reference`` corpus — the standard shape
    for deduplicating a new crawl snapshot against everything ingested
    before it (keys are typically content fingerprints,
    :func:`hooqu_spark.ops.text.document_fingerprints`, or canonical
    URLs).

    Plan: the reference side is pruned to its DISTINCT key columns
    before the LEFT ANTI join, so only keys — never payloads — shuffle
    (or broadcast, with ``broadcast_reference=True`` for a reference
    that fits in executor memory, e.g. a day's fingerprints vs a
    multi-year corpus scan).  Rows whose key is NULL always survive
    (anti-join equality is null-unsafe; a missing fingerprint carries
    no duplication evidence) — the DuckDB-replayable semantics are
    ``WHERE NOT EXISTS (SELECT 1 FROM ref WHERE ref.k = df.k ...)``.
    """
    keys = reference.select(*key_cols).distinct()
    if broadcast_reference:
        keys = F.broadcast(keys)
    return df.join(keys, on=key_cols, how="left_anti")


def _drop_pair_losers(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """The greedy-by-id survivor step: drop every ``id_b`` of an
    ``(id_a, id_b, ...)`` pair table (``id_a < id_b``) from ``df``.
    The ``distinct`` only shrinks the anti join's build side: an
    ``id_b`` in several pairs drops its row once either way."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------

def _words_of(text_col: str) -> F.Column:
    """Whitespace tokens of ``text_col`` with empties dropped — THE
    tokenization every text-dedup kernel in this module shares
    (shingles, simhash, span dedup).  Single definition on purpose:
    the DuckDB oracles replay it verbatim as
    ``list_filter(regexp_split_to_array(coalesce(text,''), '\\s+'),
    x -> x <> '')``, so a change here must change every generated
    oracle in ``__spark_entry__.oracle_sql`` with it."""
    return F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda x: x != F.lit(""),
    )


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Spread a too-coarse scan across cores before CPU-heavy per-row
    expressions.  A single small parquet file (one row group) arrives
    as ONE partition, which would serialize the shingle/hash kernels no
    matter how many cores the cluster has — AQE only coalesces, it
    never splits a non-shuffle stage.  Repartition round-robin only
    when the input has fewer partitions than the default parallelism;
    at production scale (many files / row groups per executor) this is
    a no-op, so no shuffle is added where it matters."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _minhash_params(n_hashes: int, seed: int = 7):
    """Universal-hash family ``h_i(x) = (a_i * x + b_i) mod p`` with
    ``p = 2^61 - 1`` and ``a_i < 2^30`` (see ``_MAX_A``).  Deterministic
    (seeded), shared verbatim by the DuckDB oracle generator in
    ``__spark_entry__.oracle_sql``."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MAX_A, size=n_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=n_hashes, dtype=np.int64)
    return a, b


def _str_hash32(col) -> F.Column:
    """Deterministic 32-bit hash of a string column: first 8 hex chars
    of md5, as a long in [0, 2^32).  Engine-portable — DuckDB replays
    it exactly as ``('0x' || substr(md5(x),1,8))::UBIGINT`` (same
    pattern as :func:`hooqu_spark.ops.corpus._uniform_hash`, already
    hash-verified cross-engine by ``stratified_sample_documents``)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def shingle_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int,
    spread: bool = True,
) -> DataFrame:
    """``(id, sh array<string>)`` — each doc's distinct word
    ``shingle_size``-gram strings as a pure Catalyst projection.

    Two-step projection on purpose: the tokenized words array is
    aliased in its OWN select before the shingle expression references
    it ``k+1`` times.  Catalyst does not CSE repeated sub-expressions
    inside higher-order lambdas, so a single fused expression would
    re-split the text once per reference; the separate projection
    evaluates the split exactly once per row (CollapseProject keeps
    projections apart rather than duplicate an expensive alias —
    SPARK-36718).

    ``spread=False`` skips the small-input repartition guard — pass it
    when the caller guarantees a shuffle-free scan shape (e.g. the
    decontamination join, whose plan contract is one scan + one
    broadcast)."""
    words = _words_of(text_col)
    src = df.select(id_col, text_col)
    if spread:
        src = _spread_small_input(src)
    tokenized = src.select(F.col(id_col).alias("id"), words.alias("_w"))
    return tokenized.select(
        "id", _shingles_of_words(F.col("_w"), shingle_size).alias("sh")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_hashes: int = 64,
    shingle_size: int = 3,
) -> DataFrame:
    """(id, signature array<long>): sig[i] = min over distinct word
    ``shingle_size``-gram shingles s of (a_i * md5_32(s) + b_i) mod p.

    Plan: explode shingles -> md5-derived 32-bit hash per shingle ->
    ONE whole-stage-codegen hash aggregate computing all ``n_hashes``
    mins at once.  Partial (map-side) min combine means the shuffle
    carries exactly ``n_docs x n_hashes`` longs no matter how long the
    documents are — the 100 TB-safe shape.  Every doc has >= 1 shingle
    (empty text yields the [""] shingle), so no rows are lost to the
    explode.  Fully JVM-side (no Python kernel) and bit-reproducible in
    DuckDB — the driver contract hash-verifies both the raw signatures
    and the dedup survivor set."""
    a, b = _minhash_params(n_hashes)
    # explode_outer: plain explode makes the optimizer infer a
    # `size(sh) > 0` filter that re-evaluates the whole shingle
    # expression a second time below the exchange; the outer variant
    # skips the inferred filter, and `sh` is never empty anyway (empty
    # docs yield the [""] shingle)
    ex = (
        shingle_frame(df, id_col, text_col, shingle_size)
        .select("id", F.explode_outer("sh").alias("_s"))
        .select("id", _str_hash32(F.col("_s")).alias("_h"))
    )
    p = F.lit(_MERSENNE)
    mins = ex.groupBy("id").agg(
        *[
            F.min(
                (F.lit(int(a[i])) * F.col("_h") + F.lit(int(b[i]))) % p
            ).alias(f"_m{i}")
            for i in range(n_hashes)
        ]
    )
    return mins.select(
        "id",
        F.array(*[F.col(f"_m{i}") for i in range(n_hashes)]).alias(
            "signature"
        ),
    )


def lsh_candidate_pairs(
    sig_df: DataFrame, n_bands: int = 16, dedupe: bool = True
) -> DataFrame:
    """Explode signatures into band keys; self-join within band buckets
    -> candidate (id_a, id_b) pairs with id_a < id_b.  The join key is
    the band hash, so co-bucketed rows alone shuffle together.

    ``dedupe=False`` skips the distinct() (a full pair-set shuffle):
    right when the consumer deduplicates anyway AND per-pair
    verification is cheap (minhash agreement is a 64-element zip), so
    paying up to n_bands x duplicate verify rows for near-identical
    docs beats an extra exchange — measured ~25% faster end-to-end in
    minhash_dedup.  Keep the default for expensive verifiers
    (array_intersect over full shingle arrays)."""
    rows_per_band = F.floor(F.size("signature") / n_bands).cast("int")
    banded = sig_df.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.xxhash64(
                        F.slice(
                            "signature", i * rows_per_band + 1, rows_per_band
                        ).cast("string")
                    ).alias("band_hash"),
                ),
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.band_hash").alias("band_hash"))
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )
    return pairs.distinct() if dedupe else pairs


def _signature_agreement(pairs: DataFrame, sig_df: DataFrame) -> DataFrame:
    """Estimated Jaccard = fraction of agreeing minhash components."""
    sa = sig_df.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sig_df.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b"))
    joined = pairs.join(sa, "id_a").join(sb, "id_b")
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda m: m,
        )
    )
    return joined.select(
        "id_a", "id_b", (agree / F.size("sig_a")).alias("est_jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """Drop rows whose estimated Jaccard vs any smaller-id candidate is
    >= threshold (greedy-by-id survivor policy): the survivor step over
    :func:`minhash_similar_pairs`.  Entirely JVM-side and
    DuckDB-reproducible (the driver contract hash-verifies the survivor
    set at sf0.01).
    """
    pairs = minhash_similar_pairs(
        df, id_col, text_col, threshold, n_hashes, n_bands, shingle_size
    )
    return _drop_pair_losers(df, pairs, id_col)


def minhash_similar_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """``(id_a, id_b, est_jaccard)`` for every LSH candidate pair with
    estimated Jaccard >= threshold — the pair table behind
    :func:`minhash_dedup` and :func:`minhash_dedup_clusters`.

    The signature table feeds three plan branches (band explosion plus
    both sides of the agreement join); it is persisted so the fused
    shingle-hash aggregate — the expensive per-doc step — runs ONCE
    per document instead of three times, then released after the
    (small) pair table is materialized via ``localCheckpoint``."""
    sigs = minhash_signatures(
        df, id_col, text_col, n_hashes, shingle_size
    ).persist()
    try:
        pairs = lsh_candidate_pairs(sigs, n_bands, dedupe=False)
        out = (
            _signature_agreement(pairs, sigs)
            .where(F.col("est_jaccard") >= threshold)
            .dropDuplicates(["id_a", "id_b"])
            .localCheckpoint()  # materialize before releasing sigs
        )
    finally:
        sigs.unpersist()
    return out


def minhash_dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """MinHash dedup with the TRANSITIVE survivor policy: connected
    components over the similar-pair graph, one smallest-id survivor
    per component.

    :func:`minhash_dedup` is greedy-by-id (drop a row if ANY
    smaller-id candidate matches) — chains A~B~C keep A and C when A,C
    aren't directly similar.  This variant collapses whole chains
    (quote-of-a-quote pages) via the O(log n) star scheme, at the cost
    of the clustering rounds."""
    pairs = minhash_similar_pairs(
        df, id_col, text_col, threshold, n_hashes, n_bands, shingle_size
    )
    return dedup_by_clusters(df, pairs, id_col)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash: per-token 64-bit hash = two md5-derived 32-bit
    halves (bits 0-31 from hex chars 1-8, bits 32-63 from chars 9-16),
    bit i of the signature set iff more than half the tokens (with
    multiplicity) have bit i set.

    Fully JVM-side: explode tokens -> ONE codegen'd aggregate with 64
    per-bit popcounts + the token count (map-side combine bounds the
    shuffle at 65 longs per doc).  ``explode_outer`` keeps empty docs,
    whose NULL token yields all-NULL votes -> signature 0 (the
    documented empty-text signature).  Engine-portable: DuckDB replays
    the identical md5 halves and vote rule, so signatures hash-verify
    in the driver contract."""
    words = _words_of(text_col)
    tok = _spread_small_input(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), F.explode_outer(words).alias("_w")
    )
    hx = F.md5("_w")
    th = tok.select(
        "id",
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long").alias("_h1"),
        F.conv(F.substring(hx, 9, 8), 16, 10).cast("long").alias("_h2"),
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i in range(64):
        src = F.col("_h1") if i < 32 else F.col("_h2")
        aggs.append(
            F.sum(F.shiftright(src, i % 32).bitwiseAND(F.lit(1))).alias(
                f"_c{i}"
            )
        )
    counts = th.groupBy("id").agg(*aggs)

    def bit(i: int) -> F.Column:
        # NULL votes (empty doc) make the comparison NULL -> otherwise(0)
        return F.lit(2) * F.col(f"_c{i}") > F.col("_n")

    terms = [
        F.when(bit(i), F.lit(1 << i)).otherwise(F.lit(0)) for i in range(63)
    ]
    terms.append(
        F.when(bit(63), F.lit(-(1 << 63))).otherwise(F.lit(0))
    )
    sig = terms[0]
    for t in terms[1:]:
        sig = sig + t
    return counts.select("id", sig.cast("long").alias("simhash"))


def simhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup removal by SimHash: bucket on 4x16-bit chunks (two rows
    within hamming distance <= 3 of a 64-bit hash agree on at least one
    of 4 chunks — pigeonhole), verify hamming distance inside buckets.

    Signatures are persisted across the self-join's two branches so the
    fused bit-vote aggregate runs once per document."""
    sigs = simhash_signatures(df, id_col, text_col).persist()
    chunks = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", "c.chunk", "c.chunk_val")
    l, r = chunks.alias("l"), chunks.alias("r")
    hamming = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    )
    try:
        pairs = (
            l.join(
                r,
                (F.col("l.chunk") == F.col("r.chunk"))
                & (F.col("l.chunk_val") == F.col("r.chunk_val"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .where(hamming <= max_hamming)
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .localCheckpoint()  # materialize before releasing sigs
        )
    finally:
        sigs.unpersist()
    return _drop_pair_losers(df, pairs, id_col)


# ---------------------------------------------------------------------------
# Connected components (transitive duplicate clusters)
# ---------------------------------------------------------------------------

def _both_ways(edges: DataFrame) -> DataFrame:
    """``(u, v)`` and ``(v, u)`` for every edge ``(u, v)``, in one read."""
    back = F.struct(F.col("v").alias("u"), F.col("u").alias("v"))
    return edges.select(F.inline(F.array(F.struct("u", "v"), back)))


def _star(edges: DataFrame, large: bool) -> DataFrame:
    """One half-round over edges ``(u, v)``: group each node's neighbour
    set ``N(u)``, then emit ``(t, min(N(u) ∪ {u}))`` for ``t`` in
    ``N(u)`` above ``u`` (large-star), or at or below ``u`` plus ``u``
    itself (small-star).  Self-loops and repeated edges are harmless:
    ``collect_set`` drops them, so no output needs a ``distinct``."""
    nbrs = _both_ways(edges).groupBy("u").agg(F.collect_set("v").alias("n"))
    u = F.col("u")
    if large:
        targets = F.filter("n", lambda t: t > u)
    else:
        targets = F.concat(F.filter("n", lambda t: t <= u), F.array(u))
    return nbrs.select(
        F.explode(targets).alias("u"), F.least(F.array_min("n"), u).alias("v")
    ).where(F.col("u") != F.col("v"))


def _labels(edges: DataFrame) -> DataFrame:
    """``(u, cluster, hi)``: ``min(N(u) ∪ {u})`` and ``max(N(u))``."""
    return _both_ways(edges).groupBy("u").agg(
        F.least(F.min("v"), "u").alias("cluster"), F.max("v").alias("hi")
    )


def duplicate_clusters(
    pairs: DataFrame, max_iterations: int = 40
) -> DataFrame:
    """Transitive duplicate clusters from an ``(id_a, id_b, ...)`` pair
    table: connected components by the alternating large-star /
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14), with no driver-side graph.
    Pairwise dedup (drop the larger of each pair) under-merges chains
    A~B~C; this collapses the whole chain even when A is not directly
    similar to C.  It converges in O(log n) rounds, where min-label
    propagation needs O(diameter), so adversarially long duplicate
    chains (quote-of-a-quote-of-a-quote pages) collapse in a handful of
    rounds.

    A round is large-star then small-star (:func:`_star`), one
    ``groupBy`` each, after which every edge points at a smaller id: a
    node is a source iff its least neighbour is below it, and its label
    ``min(N(u) ∪ {u})`` is its smallest target (or itself).  One job
    per round then checks for a star forest — no source has two targets
    or is a target, so no source has two distinct neighbours.  That is
    the fixed point: a star's center is its component minimum, and both
    half-rounds re-emit exactly its ``(leaf, center)`` edges, so the
    loop stops on reaching it rather than one round later.  A run cut
    short by ``max_iterations`` returns the labels reached so far.  A
    node's neighbour set is bounded by its component (a converged
    center's is the whole component).

    Returns ``(id, cluster)``, ``cluster`` the component's smallest id;
    isolated nodes never appear in ``pairs`` and are absent.
    """
    edges = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    for _ in range(max_iterations):
        edges = _star(_star(edges, True), False).localCheckpoint()
        if _labels(edges).where("cluster < u AND cluster < hi").isEmpty():
            break
    return _labels(edges).select(F.col("u").alias("id"), "cluster")


def dedup_by_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Keep one representative (smallest id) per transitive duplicate
    cluster (:func:`duplicate_clusters`): the survivor step over the
    star edges ``(cluster, id)``; rows not in any pair survive
    untouched."""
    star = duplicate_clusters(pairs).where(F.col("id") != F.col("cluster"))
    return _drop_pair_losers(
        df,
        star.select(F.col("cluster").alias("id_a"), F.col("id").alias("id_b")),
        id_col,
    )


def _shingles_of_words(words: F.Column, shingle_size: int) -> F.Column:
    """Distinct ``shingle_size``-gram strings from a words-array column
    (docs shorter than the shingle size contribute their full joined
    text as the single shingle).

    Built from ``k`` shifted slices folded with ``zip_with`` —
    3 array copies TOTAL per doc instead of one ``slice``+``concat_ws``
    per shingle (the naive ``transform(sequence(...))`` spelling is
    ~5x slower: higher-order slices are O(k) copies per element).
    Callers should alias ``words`` in its own projection first
    (see :func:`shingle_frame`) — this expression references it
    ``k + 2`` times and Catalyst does not CSE inside lambdas."""
    k = shingle_size
    n = F.size(words)
    cnt = n - F.lit(k - 1)
    acc = F.slice(words, 1, cnt)
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(words, j + 1, cnt),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(
        n < k, F.array(F.array_join(words, " "))
    ).otherwise(F.array_distinct(acc))


def jaccard_similar_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_size: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join: all pairs with n-gram Jaccard
    >= threshold — guaranteed recall 1.0, unlike the probabilistic LSH
    candidates.  Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.

    Plan (AllPairs prefix filtering, Bayardo et al., WWW'07): each
    doc's distinct shingles are ranked under a GLOBAL total order —
    ascending corpus document frequency, ties by value (rarest first)
    — and only the first ``|x| - ceil(t*|x|) + 1`` are indexed.  Any
    pair with Jaccard >= t must share an indexed shingle under any
    common total order; rarest-first makes prefix collisions mean
    "these docs share RARE content", so the candidate set collapses
    toward the true pairs (measured ~860x fewer candidates than
    lexicographic prefixes on the synthetic corpus: common lexicon
    shingles stop generating false candidates).  Verification is a JVM
    ``array_intersect`` on the full shingle arrays.  Everything is
    Catalyst; the extra frequency pass is one groupBy over the
    exploded shingle index.
    """
    k = shingle_size
    sh = shingle_frame(df, id_col, text_col, k).persist()
    try:
        ex = sh.select(
            "id", F.size("sh").alias("n"), F.explode("sh").alias("shingle")
        )
        freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        rank_w = Window.partitionBy("id").orderBy(
            F.asc("_df"), F.asc("shingle")
        )
        prefix_len = (
            F.col("n") - F.ceil(F.lit(threshold) * F.col("n")).cast("int") + 1
        )
        index = (
            ex.join(freq, "shingle")
            .withColumn("_rk", F.row_number().over(rank_w))
            .where(F.col("_rk") <= prefix_len)
            .select("id", "shingle")
        )
        cand = (
            index.alias("l")
            .join(
                index.alias("r"),
                (F.col("l.shingle") == F.col("r.shingle"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select(
                F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")
            )
            .distinct()
        )
        sa = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        sb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        out = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                (inter.cast("double") / union.cast("double")).alias(
                    "jaccard"
                ),
            )
            .where(F.col("jaccard") >= threshold)
            .localCheckpoint()  # materialize before releasing sh
        )
    finally:
        sh.unpersist()
    return out


def ngram_jaccard_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_size: int = 3,
) -> DataFrame:
    """Drop rows whose EXACT n-gram Jaccard vs any smaller-id match is
    >= threshold (greedy-by-id survivor policy): the survivor step over
    :func:`jaccard_similar_pairs`, whose lossless AllPairs prefix-filter
    index guarantees recall 1.0 — fully SQL-equivalent semantics
    (DuckDB-oracled in the contract suite)."""
    pairs = jaccard_similar_pairs(
        df, id_col, text_col, threshold, shingle_size
    )
    return _drop_pair_losers(df, pairs, id_col)


# ---------------------------------------------------------------------------
# Substring-level (span) dedup
# ---------------------------------------------------------------------------

def _span_occurrences_tile(
    wf: DataFrame, span_tokens: int
) -> DataFrame:
    """``(id, idx, span)`` fixed-size spans: consecutive non-overlapping
    ``span_tokens``-token tiles (the final short tile kept).  Pure
    Catalyst: k-token slices cost O(n) array copies per doc total."""
    k = span_tokens
    n_spans = F.ceil(F.size("_ws") / F.lit(k)).cast("int")
    tiles = F.when(F.size("_ws") == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.array_join(F.slice("_ws", i * k + 1, k), " "),
        )
    )
    # two-step projection: _spans materialized once; posexplode_outer
    # + IS NOT NULL (not plain posexplode) so the optimizer does not
    # infer a size()>0 refilter that re-evaluates the tile expression
    return (
        wf.select("id", tiles.alias("_spans"))
        .select("id", F.posexplode_outer("_spans").alias("idx", "span"))
        .where(F.col("span").isNotNull())
    )


def _span_occurrences_cdc(
    wf: DataFrame, cdc_divisor: int
) -> DataFrame:
    """``(id, idx, span)`` content-defined chunks: a chunk boundary
    falls AFTER every token whose 32-bit md5 hash is divisible by
    ``cdc_divisor`` (expected chunk length = ``cdc_divisor`` tokens).
    Boundaries depend only on content, so a duplicated passage chunks
    identically regardless of its token offset inside the document —
    the alignment robustness fixed-tile spans lack.

    One shuffle on the doc id (running-sum window for chunk ids, then
    a partial-agg groupBy on the same key reassembles chunks)."""
    tok = (
        wf.select("id", F.posexplode_outer("_ws").alias("pos", "_w"))
        .where(F.col("_w").isNotNull())
        .withColumn(
            "_b", (_str_hash32(F.col("_w")) % cdc_divisor == 0).cast("int")
        )
    )
    prev = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = tok.withColumn(
        "idx", F.coalesce(F.sum("_b").over(prev), F.lit(0)).cast("int")
    )
    return chunked.groupBy("id", "idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_w"))),
                lambda s: s["_w"],
            ),
            " ",
        ).alias("span")
    )


def repeated_span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    span_tokens: int = 8,
    mode: str = "cdc",
    cdc_divisor: int = 8,
) -> DataFrame:
    """Substring-level exact dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL'22 — the ExactSubstr
    family): remove every repeated token span from ALL BUT its first
    occurrence (ordering: smallest ``(id, position)``), then rewrite
    each document from its surviving spans.  Unlike the document-level
    deduppers (:func:`minhash_dedup` etc.) this deletes duplicated
    PASSAGES inside otherwise-unique documents — boilerplate headers,
    quoted paragraphs, licence blocks.

    Lee et al. build a monolithic suffix array, which has no bounded-
    memory distributed equivalent; this is the Spark-native span
    approximation:

    * ``mode="cdc"`` (DEFAULT): content-defined chunking — boundaries
      where the token's 32-bit md5 hash ≡ 0 (mod ``cdc_divisor``).
      Chunking is offset-independent, so a duplicated passage shifted
      by ANY number of tokens still dedups (tested with a 3-token
      shift); costs one extra shuffle on the doc id.  The default
      because shifted boilerplate is the common case in web corpora.
    * ``mode="tile"``: consecutive non-overlapping ``span_tokens``-token
      tiles.  Cheapest (no per-token shuffle), but a duplicate shifted
      by <k tokens tiles differently and is missed — opt in only when
      duplicates are known to be whole-document-aligned.  (An
      overlapping-tile variant with stride s would only catch shifts
      that are multiples of s — it cannot close this gap short of
      stride 1, which is k-gram shingling at k× the shuffle volume —
      so offset-independent CDC is the shift-robust path.)

    Scale: the only content shuffle is ONE groupBy on the span string
    with a map-side ``min(struct(id, idx))`` combine — a hot boilerplate
    span collapses to one row per map partition, so skew is bounded;
    no all-pairs comparison and no driver-side state.  Output is
    ``(id, text)`` with whitespace normalized to single spaces (a
    consequence of token-level rewrite); docs whose every span was a
    repeat come back as empty strings.  Deterministic and engine-
    portable — the driver contract hash-verifies the rewritten corpus
    against a DuckDB replay at sf0.01.
    """
    src = _spread_small_input(df.select(id_col, text_col))
    wf = src.select(
        F.col(id_col).alias("id"), _words_of(text_col).alias("_ws")
    )
    if mode == "tile":
        occ = _span_occurrences_tile(wf, span_tokens)
    elif mode == "cdc":
        occ = _span_occurrences_cdc(wf, cdc_divisor)
    else:
        raise ValueError(f"unknown span mode: {mode!r}")
    first = occ.groupBy("span").agg(
        F.min(F.struct("id", "idx")).alias("_f")
    )
    keep = first.select(
        F.col("_f.id").alias("id"), F.col("_f.idx").alias("idx"), "span"
    )
    rebuilt = keep.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("_txt")
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("_txt", F.lit("")).alias(text_col),
        )
    )
