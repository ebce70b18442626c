"""Scalar/array function library (pure Column-expression builders).

Everything here stays JVM-side (whole-stage codegen): no Python UDFs. Each
builder documents the reference behavior it re-expresses (file:line in
/root/reference) and is written so an ANSI-SQL oracle (DuckDB) can compute
the identical result — deterministic semantics, no engine-specific hashing
unless explicitly flagged as the scale path.
"""

from mega_data_factory_spark.functions.text import (
    normalize_text,
    text_length,
    token_count,
    word_occurrences,
    word_shingles,
)
from mega_data_factory_spark.functions.hashing import (
    content_key,
    hash64_from_md5,
)
from mega_data_factory_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
    l2_normalize,
)

__all__ = [
    "normalize_text",
    "text_length",
    "token_count",
    "word_occurrences",
    "word_shingles",
    "content_key",
    "hash64_from_md5",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
    "l2_normalize",
]
