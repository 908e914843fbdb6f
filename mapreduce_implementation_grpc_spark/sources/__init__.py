from .catalog import TABLES, load_table, register_views
from .text import corpus_from_documents, read_text_corpus

__all__ = [
    "TABLES",
    "load_table",
    "register_views",
    "corpus_from_documents",
    "read_text_corpus",
]
