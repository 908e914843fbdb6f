from .text_stats import (
    bpe_like_token_count_col,
    doc_fingerprint_cols,
    lang_score_cols,
    quality_score_col,
    rolling_hash_col,
    text_stats_cols,
)
from .vectors import dot_col, l2_norm_col

__all__ = [
    "bpe_like_token_count_col",
    "doc_fingerprint_cols",
    "lang_score_cols",
    "quality_score_col",
    "rolling_hash_col",
    "text_stats_cols",
    "dot_col",
    "l2_norm_col",
]
