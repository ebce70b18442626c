"""Stable hashing builders.

The reference derives dedup keys as hex digests (xxhash64 preferred, md5
fallback — operators/dedup/text_exact_dedup.py:74-83). For this engine the
*canonical exported form is the md5 hex string*: portable, oracle-checkable
in any SQL engine, and stable across JVM/Python/Rust. ``F.xxhash64`` remains
available as the scale path (cheaper, int64) where the key never leaves the
plan — equality semantics are what matter for dedup, not the digest algebra.

``hash64_from_md5`` turns the first 15 hex chars (60 bits) into a BIGINT via
``conv`` — enough entropy for bucketing/minhash while staying representable
and reproducible in ANSI SQL (no engine-native hash involved).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mega_data_factory_spark.functions.text import normalize_text_sql, sql_ident, sql_string_literal


def content_key_sql(
    text_sql: str,
    id_sql: str,
    *,
    url_sql: str | None = None,
    lowercase: bool = True,
    collapse_whitespace: bool = True,
) -> str:
    """Exact-dedup key per reference text_exact_dedup.py:22-114:
    normalize(text) -> md5 hex; optional FineWeb-style ``"{url}|{text}"``
    composite (text_exact_dedup.py:104-108); missing/invalid text falls back
    to the record id (text_exact_dedup.py:96-99) so such rows never collide.
    All inputs are already-rendered SQL fragments."""
    norm = normalize_text_sql(text_sql, lowercase=lowercase, collapse_whitespace=collapse_whitespace)
    if url_sql is not None:
        # concat (NOT concat_ws): NULL text must propagate so the id
        # fallback below still fires in url mode — concat_ws silently
        # drops NULL args, giving two NULL-text rows with equal urls a
        # shared non-NULL key and wrongly deduping them. Identical output
        # for non-NULL text.
        norm = f"concat(coalesce({url_sql}, ''), '|', {norm})"
    return (
        f"CASE WHEN ({norm} IS NULL) THEN concat('id:', cast({id_sql} as string)) "
        f"ELSE md5({norm}) END"
    )


def hash64_from_md5_sql(col_sql: str, *, seed: int | str | None = None) -> str:
    """Deterministic 60-bit integer hash derived from md5 hex — reproducible
    in ANSI SQL: ``conv(substr(md5(x), 1, 15), 16, 10)``; ``col_sql`` is an
    already-rendered SQL fragment.

    ``seed`` (appended with a ``#`` separator before hashing) yields an
    independent hash family member — the minhash/LSH machinery uses
    ``seed=0..k-1`` for its k permutations."""
    s = f"cast({col_sql} as string)"
    if seed is not None:
        s = f"concat({s}, {sql_string_literal(f'#{seed}')})"
    return f"cast(conv(substring(md5({s}), 1, 15), 16, 10) as bigint)"


def hash64_from_md5(col: str, *, seed: int | str | None = None) -> Column:
    """Column form of :func:`hash64_from_md5_sql` over a named column."""
    return F.expr(hash64_from_md5_sql(sql_ident(col), seed=seed))
