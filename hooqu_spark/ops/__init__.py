"""Large-scale training-data pipeline operators.

Beyond the reference's metric surface, these are the operations a
100TB web-text curation pipeline needs: deduplication (exact,
MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine), approximate
nearest-neighbor search, text analysis, and multimodal column
plumbing.  All are expressed Spark-first: built-in columnar functions
where possible, Arrow-batched numpy kernels where not, shuffles only
on bucketed candidate keys (never all-pairs).
"""

from .corpus import (
    dedup_lines_by_frequency,
    flag_contamination,
    stratified_sample,
)
from .dedup import (
    dedup_against,
    dedup_by_clusters,
    duplicate_clusters,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_dedup_clusters,
    minhash_similar_pairs,
    jaccard_similar_pairs,
    minhash_signatures,
    ngram_jaccard_dedup,
    repeated_span_dedup,
    simhash_dedup,
    simhash_signatures,
)
from .similarity import (
    brute_force_topk,
    cosine_scores,
    cosine_similar_pairs,
    embedding_near_duplicates,
    ivf_build_index,
    ivf_probe_index,
    ivf_topk,
    lsh_bucketed_topk,
    semantic_dedup,
    semantic_duplicate_pairs,
)
from .skew import (
    cap_per_key,
    salted_agg,
    salted_counts,
    salted_distinct_counts,
    salted_numeric_summary,
    top_hot_keys,
)
from .sessions import (
    session_stats,
    sessionize,
    streaming_sessions,
)
from .temporal import asof_join
from .web import (
    canonicalize_urls,
    host_col,
    host_counts,
    url_dedup,
)
from .text import (
    bpe_token_count_col,
    document_fingerprints,
    language_distribution,
    mix_to_token_budget,
    normalized_text_col,
    quality_features,
    sample_to_token_budget,
    token_counts,
)
from .multimodal import (
    attach_binary_metadata,
    extract_binary_features,
    resize_images,
)

__all__ = [
    "asof_join",
    "attach_binary_metadata",
    "bpe_token_count_col",
    "brute_force_topk",
    "extract_binary_features",
    "resize_images",
    "cap_per_key",
    "cosine_similar_pairs",
    "canonicalize_urls",
    "dedup_against",
    "cosine_scores",
    "dedup_by_clusters",
    "dedup_lines_by_frequency",
    "document_fingerprints",
    "duplicate_clusters",
    "embedding_near_duplicates",
    "exact_dedup",
    "flag_contamination",
    "host_col",
    "host_counts",
    "ivf_build_index",
    "ivf_probe_index",
    "ivf_topk",
    "jaccard_similar_pairs",
    "language_distribution",
    "lsh_bucketed_topk",
    "lsh_candidate_pairs",
    "minhash_dedup",
    "minhash_signatures",
    "minhash_dedup_clusters",
    "minhash_similar_pairs",
    "mix_to_token_budget",
    "ngram_jaccard_dedup",
    "normalized_text_col",
    "repeated_span_dedup",
    "quality_features",
    "salted_agg",
    "salted_distinct_counts",
    "salted_counts",
    "salted_numeric_summary",
    "sample_to_token_budget",
    "semantic_dedup",
    "semantic_duplicate_pairs",
    "session_stats",
    "sessionize",
    "simhash_dedup",
    "streaming_sessions",
    "stratified_sample",
    "simhash_signatures",
    "token_counts",
    "url_dedup",
    "top_hot_keys",
]
