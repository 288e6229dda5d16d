from gmx.textops.dedup import (
    decontaminate_ngrams,
    dup_clusters,
    exact_dup_groups,
    minhash_pairs,
    ngram_jaccard_pairs,
    simhash_buckets,
    simhash_pairs,
)
from gmx.textops.quality import (
    lang_id,
    quality_scores,
    repetition_scores,
    rolling_fingerprint,
    stratified_sample,
    token_counts,
    token_counts_regex,
)
from gmx.textops.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    cosine_topk,
    embedding_near_dup,
    embedding_near_dup_lsh,
)

__all__ = [
    "ann_ivf_topk", "ann_lsh_topk", "cosine_topk", "dup_clusters",
    "embedding_near_dup", "embedding_near_dup_lsh", "exact_dup_groups",
    "lang_id", "minhash_pairs", "ngram_jaccard_pairs", "quality_scores",
    "rolling_fingerprint", "simhash_buckets", "simhash_pairs",
    "stratified_sample", "token_counts", "token_counts_regex",
]
