"""DataFrame-level pipeline operators (SURVEY.md §2.B)."""

from .chunk import cdc_dedup_stats, chunk_documents
from .components import connected_components
from .dedup import (
    char_ngrams,
    contamination_flags,
    dedup_flags,
    exact_duplicates,
    ngram_jaccard_pairs,
    remove_duplicate_lines,
    substring_pairs,
    token_ngrams,
)
from .events import event_type_stats, sessionize
from .extract import extract_text
from .knn import (
    cosine_near_duplicates,
    cosine_near_duplicates_banded,
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    ivf_assign,
    kmeans_centroids,
    rhp_buckets,
)
from .lsh import candidate_pairs
from .minhash import minhash_signatures
from .mixing import repetition_scores, stratified_sample
from .simhash import hamming_distance_expr, simhash64, simhash_bands
from .suffix import duplicate_substrings, substring_pairs_exact
from .textstats import (
    bpe_token_stats,
    doc_fingerprint,
    langid_heuristic,
    language_stats,
    quality_scores,
    token_stats,
)
from .verify import verify_pairs

__all__ = [
    "substring_pairs_exact",
    "substring_pairs",
    "sessionize",
    "kmeans_centroids",
    "ivf_assign",
    "event_type_stats",
    "cosine_topk_ivf",
    "char_ngrams",
    "bpe_token_stats",
    "candidate_pairs",
    "chunk_documents",
    "connected_components",
    "cosine_near_duplicates",
    "cosine_near_duplicates_banded",
    "cosine_topk_bruteforce",
    "dedup_flags",
    "doc_fingerprint",
    "duplicate_substrings",
    "exact_duplicates",
    "extract_text",
    "hamming_distance_expr",
    "langid_heuristic",
    "language_stats",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "contamination_flags",
    "remove_duplicate_lines",
    "stratified_sample",
    "repetition_scores",
    "cdc_dedup_stats",
    "quality_scores",
    "rhp_buckets",
    "simhash64",
    "simhash_bands",
    "token_ngrams",
    "token_stats",
    "verify_pairs",
]
