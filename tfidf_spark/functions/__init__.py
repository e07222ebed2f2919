from tfidf_spark.functions.tokenize import (
    TOKEN_PATTERN,
    py_tokenize,
    py_tokenize_code_aware,
    tokenize_udf,
    tokenize_counts_udf,
)
from tfidf_spark.functions.hashing import (
    doc_id_expr,
    content_sha256,
)

__all__ = [
    "TOKEN_PATTERN",
    "py_tokenize",
    "py_tokenize_code_aware",
    "tokenize_udf",
    "tokenize_counts_udf",
    "doc_id_expr",
    "content_sha256",
]
