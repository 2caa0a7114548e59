"""Training-data pipeline functions: text analysis, multimodal plumbing.

These are the first-class additions beyond the reference's encoder
surface (the reference is a file-format writer only — SURVEY.md §2.7);
every operator here is either pure `pyspark.sql.functions` (JVM-side,
codegen'd) or Arrow-batched `mapInArrow` with vectorized numpy.
"""

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
    "decode_image",
    "extract_features",
    "fingerprint",
    "frame_sample",
    "lang_id",
    "quality_score",
    "text_profile",
    "with_payload",
    "ws_token_count",
]
