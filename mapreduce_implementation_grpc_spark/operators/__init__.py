from .normalize import normalized_col
from .tokenize import tokenize, tokens_col
from .wordcount import word_count, word_count_rdd, word_count_salted, word_count_sql
from .topk import top_k

__all__ = [
    "normalized_col",
    "tokenize",
    "tokens_col",
    "word_count",
    "word_count_rdd",
    "word_count_salted",
    "word_count_sql",
    "top_k",
]
