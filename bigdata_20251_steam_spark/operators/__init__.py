from .core import (
    sentiment_windows,
    review_bomb,
    explode_counts,
    activity_windows,
)
from .dedup import (
    blocked_self_pairs,
    exact_dedup_stats,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_signatures,
    spread_partitions,
)
from .dedup import connected_components, incremental_dedup
from .ingest import flatten_app_details, quarantine_invalid, valid_appids
from .joins import salted_join
from .packing import pack_documents
from .relational_ext import asof_join, range_join
from .sampling import (
    epoch_shuffle,
    epoch_shuffle_key,
    hash_split,
    sample_n_per_group,
    split_bucket,
    stratified_sample,
    token_budget_sample,
)
from .profiling import profile_columns, value_histogram
from .similarity import quantize_embeddings
from .sketches import hll_distinct_rollup, hll_sketches
from .similarity import (
    cosine,
    cosine_near_dup_pairs,
    cosine_topk,
    lsh_bucketed_topk,
    pandas_cosine_udf,
)
from .text_analysis import (
    chunk_documents,
    fingerprints,
    language_id,
    quality_scores,
    repetition_metrics,
    sentences,
    tfidf_top_terms,
    token_counts,
)

__all__ = [
    "connected_components", "incremental_dedup", "pack_documents",
    "asof_join", "range_join",
    "hash_split", "split_bucket", "stratified_sample", "repetition_metrics",
    "sentences", "tfidf_top_terms", "quantize_embeddings",
    "sentiment_windows", "review_bomb", "explode_counts", "activity_windows",
    "blocked_self_pairs", "exact_dedup_stats", "minhash_candidate_pairs",
    "minhash_signatures", "ngram_jaccard_pairs", "simhash_near_pairs",
    "simhash_signatures", "spread_partitions",
    "flatten_app_details", "quarantine_invalid", "valid_appids", "salted_join",
    "cosine", "cosine_near_dup_pairs", "cosine_topk", "lsh_bucketed_topk",
    "pandas_cosine_udf",
    "fingerprints", "language_id", "quality_scores", "token_counts",
    "chunk_documents", "epoch_shuffle", "epoch_shuffle_key",
    "sample_n_per_group", "token_budget_sample",
    "hll_distinct_rollup", "hll_sketches", "profile_columns",
    "value_histogram",
]
