from .vector import cosine_similarity, dot, l2_norm, l2_normalize, unit_fixed
from .text import (
    md5_bits,
    money,
    money_units,
    tokens,
    token_count,
    word_ngrams,
    word_shingles,
    normalized_text,
)

__all__ = [
    "cosine_similarity",
    "dot",
    "l2_norm",
    "l2_normalize",
    "md5_bits",
    "money",
    "money_units",
    "tokens",
    "token_count",
    "unit_fixed",
    "word_ngrams",
    "word_shingles",
    "normalized_text",
]
