"""Scalar/array function library.

Everything here stays JVM-side (whole-stage codegen): no Python UDFs. Text
and hashing expressions are authored once, as SQL text (the ``*_sql``
builders in ``text`` and ``hashing``, which operators embed in their own
SQL); the Column builders exported below are that text parsed by one
``F.expr``. Each builder documents the reference behavior it re-expresses
(file:line in /root/reference) and is written so an ANSI-SQL oracle
(DuckDB) can compute the identical result — deterministic semantics, no
engine-specific hashing unless explicitly flagged as the scale path.
"""

from mega_data_factory_spark.functions.text import (
    normalize_text,
    token_count,
    word_shingles,
)
from mega_data_factory_spark.functions.hashing import hash64_from_md5
from mega_data_factory_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
    l2_normalize,
)

__all__ = [
    "normalize_text",
    "token_count",
    "word_shingles",
    "hash64_from_md5",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
    "l2_normalize",
]
