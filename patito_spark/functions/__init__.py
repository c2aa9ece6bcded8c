"""Column-level function library: text analysis, vector math, hashing."""

from .hashing import md5_long
from .text import (
    doc_fingerprint,
    language_id,
    normalize_text,
    quality_score,
    token_count,
    tokens,
    word_shingles,
)
from .vectors import cosine_similarity, dot_product, l2_norm

__all__ = [
    "tokens",
    "token_count",
    "word_shingles",
    "normalize_text",
    "language_id",
    "quality_score",
    "doc_fingerprint",
    "md5_long",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
]
