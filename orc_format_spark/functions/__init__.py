"""Training-data pipeline functions: text analysis, deduplication,
multimodal plumbing.

These are the first-class additions beyond the reference's encoder
surface (the reference is a file-format writer only — SURVEY.md §2.7);
every operator here is either pure `pyspark.sql.functions` (JVM-side,
codegen'd) or Arrow-batched `mapInArrow` with vectorized numpy.
"""

from .dedup import (
    char_ngrams,
    dedup_keep_first,
    exact_duplicate_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
)
from .multimodal import (
    decode_image,
    extract_features,
    frame_sample,
    with_payload,
)
from .text import (
    bpe_token_count,
    fingerprint,
    lang_id,
    quality_score,
    text_profile,
    ws_token_count,
)

__all__ = [
    "bpe_token_count",
    "char_ngrams",
    "decode_image",
    "dedup_keep_first",
    "exact_duplicate_groups",
    "extract_features",
    "fingerprint",
    "frame_sample",
    "lang_id",
    "lsh_candidate_pairs",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "quality_score",
    "simhash64",
    "simhash_near_pairs",
    "text_profile",
    "with_payload",
    "ws_token_count",
]
