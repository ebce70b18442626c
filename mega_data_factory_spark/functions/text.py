"""Text scalar functions (Column-expression builders, JVM-side only).

Re-expresses the reference's text handling (normalization at
operators/dedup/text_exact_dedup.py:66-72, length resolution at
operators/filters/text_length_filter.py:43-57) as Catalyst expressions, and
adds the token/shingle machinery the near-dedup family needs.

All semantics are chosen to be expressible identically in ANSI SQL (DuckDB
oracle): literal `replace`/`regexp` with ASCII word boundaries, no
engine-specific collation or hashing.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


# --- SQL text is the authored form ---------------------------------------
# Every builder below is written once, as SQL text, and its Column form is
# that text parsed by ONE F.expr: py4j costs ~2-4 ms per Column call on the
# bench hosts, so composing these trees Column by Column spent 100-350 ms of
# pure driver latency per plan build. The *_sql functions take already-
# rendered SQL fragments (identifiers via :func:`sql_ident`, literals via
# :func:`sql_string_literal` / :func:`sql_number_literal`) so larger
# expressions can embed them; the Column builders take column NAMES.


def sql_string_literal(s: str) -> str:
    """Render a python string as a Spark SQL string literal (default,
    non-ANSI escape rules: backslash escapes are interpreted, so double
    them; control characters spelled as escapes to keep the SQL text
    printable; ``$`` spelled ``\\u0024``, because the parser substitutes
    ``${env:HOME}``-style references anywhere in the text, even inside a
    literal)."""
    out = (
        s.replace("\\", "\\\\")
        .replace("'", "\\'")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
        .replace("\x00", "\\0")
        .replace("$", "\\u0024")
    )
    return f"'{out}'"


def sql_number_literal(v: bool | int | float) -> str:
    """SQL literal whose PARSED TYPE and value match ``F.lit(v)``:
    ``true``/``false`` for bools; plain digits for 32-bit ints and the
    ``L`` suffix for wider ones (py4j hands ``F.lit`` a Long there);
    ``repr(v)`` + the ``D`` suffix for finite floats (bare ``0.3`` parses
    as DECIMAL in Spark SQL; ``repr`` round-trips the exact double); a
    cast of the string spelling for infinities and NaN, which have no
    literal syntax."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        if -(2**31) <= v < 2**31:
            return str(v)
        if -(2**63) <= v < 2**63:
            return f"{v}L"
        raise ValueError(f"integer literal {v} does not fit a 64-bit long")
    if math.isfinite(v):
        return f"{v!r}D"
    spelled = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    return f"CAST('{spelled}' AS DOUBLE)"


def _name_parts(name: str) -> list[str] | None:
    """``name`` split the way ``F.col`` splits it (Spark's attribute-name
    parser): dots separate parts, and a backtick-quoted part is taken
    verbatim, a doubled backtick inside it standing for one. None where
    that parser rejects the name (an unpaired backtick, an empty part)."""
    parts: list[str] = []
    cur: list[str] = []
    quoted = False
    i = 0
    while i < len(name):
        ch = name[i]
        if quoted:
            if ch == "`":
                if name[i + 1 : i + 2] == "`":
                    cur.append("`")
                    i += 1
                else:
                    quoted = False
                    if i + 1 < len(name) and name[i + 1] != ".":
                        return None
            else:
                cur.append(ch)
        elif ch == "`":
            if cur:
                return None
            quoted = True
        elif ch == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                return None
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if quoted:
        return None
    parts.append("".join(cur))
    return parts


def sql_ident(name: str, *, literal: bool = False) -> str:
    """SQL identifier for a column reference, read the way ``F.col`` reads
    it: ``meta.text`` is the ``text`` field of struct ``meta`` and
    ```a.b``` the column named ``a.b``. A name that parser rejects (an
    unpaired backtick, as in ``te`xt``) is one column name, and so is
    every name with ``literal=True`` (schema field names and output
    aliases, which are never paths). Each part renders backtick-quoted
    with its backticks doubled."""
    if not isinstance(name, str):
        raise TypeError(f"expected a column name, got {type(name).__name__}")
    parts = None if literal else _name_parts(name)
    return ".".join("`" + p.replace("`", "``") + "`" for p in (parts or [name]))


def normalize_text_sql(col_sql: str, *, lowercase: bool = True, collapse_whitespace: bool = True) -> str:
    """Canonical text normalization: trim, collapse runs of whitespace to
    one space, lowercase. Mirrors reference text_exact_dedup.py:66-72 (both
    steps optional there too). NULL stays NULL."""
    c = col_sql
    if collapse_whitespace:
        c = f"trim(regexp_replace({c}, '\\\\s+', ' '))"
    if lowercase:
        c = f"lower({c})"
    return c


def normalize_text(col: str, *, lowercase: bool = True, collapse_whitespace: bool = True) -> Column:
    """Column form of :func:`normalize_text_sql` over a named column."""
    return F.expr(
        normalize_text_sql(sql_ident(col), lowercase=lowercase, collapse_whitespace=collapse_whitespace)
    )


def token_count_sql(col_sql: str) -> str:
    """Whitespace token count: 0 for NULL/empty/blank, else number of
    maximal non-whitespace runs. Computed arithmetically on the normalized
    string so the SQL oracle can use the identical formula:
    ``len(norm) - len(replace(norm, ' ', '')) + 1``."""
    norm = normalize_text_sql(col_sql, lowercase=False)
    n = f"length({norm}) - length(replace({norm}, ' ', '')) + 1"
    return f"cast(CASE WHEN (({norm} IS NULL) OR (length({norm}) = 0)) THEN 0 ELSE {n} END as bigint)"


def token_count(col: str) -> Column:
    """Column form of :func:`token_count_sql` over a named column."""
    return F.expr(token_count_sql(sql_ident(col)))


def text_length_sql(col_sql: str, length_col_sql: str | None = None) -> str:
    """Effective text length per reference text_length_filter.py:43-57:
    trust a precomputed numeric length column when present, else
    ``length(text)``, else 0 for missing text."""
    ln = f"length({col_sql})"
    if length_col_sql is not None:
        ln = f"coalesce(cast({length_col_sql} as bigint), cast({ln} as bigint))"
    return f"coalesce(cast({ln} as bigint), cast(0 as bigint))"


def word_occurrences_sql(col_sql: str, word: str) -> str:
    r"""Count of whole-word occurrences of ``word`` (case-insensitive) using
    an ASCII ``\b`` regex — same counting rule RE2 (DuckDB) and Java regex
    (Spark) agree on. 0 for NULL text.

    The text is lower()ed rather than matched with (?i) so the oracle SQL
    stays trivial; the word is escaped — config-supplied words with regex
    metacharacters ('a.b', 'c++') would otherwise mis-count (dot matches
    anything) or kill the job at pattern-compile time. re.escape's
    backslash-escapes are Java- and RE2-compatible for these inputs."""
    import re as _re

    pat = r"\b" + _re.escape(word.lower()) + r"\b"
    return f"cast(coalesce(regexp_count(lower({col_sql}), {sql_string_literal(pat)}), 0) as bigint)"


# GPT-2-style pre-tokenizer classes (contractions | letter runs | digit
# runs | punctuation runs), restricted to constructs both Java regex and
# RE2 (DuckDB) interpret identically — no lookarounds, no backrefs.
SUBWORD_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def subword_token_count(col: str) -> Column:
    """BPE-ish token count: number of matches of the GPT-2-style
    pre-tokenizer regex over the normalized text — the cheap stand-in for a
    real BPE vocab when budgeting LLM training tokens. 0 for NULL/empty.
    Oracle mirror: ``len(regexp_extract_all(norm, pattern))`` (RE2 and Java
    agree on this pattern by construction)."""
    norm = normalize_text(col, lowercase=False)
    n = F.regexp_count(norm, F.lit(SUBWORD_PATTERN))
    return F.when(norm.isNull(), F.lit(0)).otherwise(n).cast("long")


def word_array(col: str) -> Column:
    """Non-empty normalized words — the shared unigram feature definition
    (DSIR scorer, quality classifier). NULL text yields NULL."""
    return F.filter(F.split(normalize_text(col), " "), lambda w: w != "")


def word_ngram_array(col: str, *, bigrams: bool = True, empty_on_null: bool = False) -> Column:
    """Unigrams (+ space-joined bigrams) as ONE array column — pure Column
    HOFs, codegen'd, no Python. The single definition shared by the
    hashed-feature operators (fastText-style ``QualityClassifier``, DSIR
    importance scorer) so their feature spaces cannot drift apart.

    Bigrams via ``zip_with`` against the shifted word array; k<2 words ->
    no bigrams (no whole-text fallback — clean SQL mirror, unlike the
    Jaccard shingles which need every doc non-empty). ``empty_on_null``
    maps NULL text to an EMPTY array instead of NULL (``HashingTF`` throws
    on a null input array; ``explode`` treats the two identically)."""
    w = word_array(col)
    if bigrams:
        k = F.size(w)
        bg = F.slice(
            F.zip_with(w, F.slice(w, 2, k), lambda a, b: F.concat_ws(" ", a, b)),
            1,
            F.greatest(k - F.lit(1), F.lit(0)),
        )
        w = F.concat(w, bg)
    if empty_on_null:
        w = F.coalesce(w, F.array().cast("array<string>"))
    return w


def _bound_words_sql(col_sql: str, out_type: str, body: str) -> str:
    """``body`` evaluated with the normalized text bound as ``x_1`` and its
    space-split words as ``x_2``; NULL text yields a NULL ``out_type``.

    Each is bound ONCE as a single-element-``transform`` lambda variable
    (the expression-binding lesson, operators/refiners.py): a captured
    expression referenced inside a per-element lambda is re-evaluated per
    element, and a pushed-down filter or interpreted CodegenFallback
    Project re-evaluates every copy of an authored tree per row (the c4
    recipe's span-dedup filter once carried 132 copies of
    split(normalize(text))). Reads of the bound variables are O(1). The
    two binders are spelled ``x_1`` and ``x_2`` — distinct names, because
    ``body`` may reference the OUTER normalized-text variable."""
    build = (
        f"CASE WHEN (x_1 IS NULL) THEN cast(NULL as {out_type}) "
        f"ELSE transform(array(split(x_1, ' ')), x_2 -> {body})[0] END"
    )
    return f"transform(array({normalize_text_sql(col_sql)}), x_1 -> {build})[0]"


def _grams_sql(n: int, gram: str = "{}") -> str:
    """Every ``n``-word gram of the bound word array ``x_2`` (which must
    hold at least ``n`` words), in document order, each wrapped by the
    ``gram`` template. One ``slice`` per start position, so building all
    grams copies O(words·n) characters."""
    g = gram.format(f"concat_ws(' ', slice(x_2, i, {n}))")
    return f"transform(sequence(1, size(x_2) - {n - 1}), i -> {g})"


def word_shingles_sql(col_sql: str, n: int = 3) -> str:
    """Array of word n-gram shingles over the normalized text, preserving
    document order (duplicates included). Documents with fewer than ``n``
    tokens yield a single shingle of the whole normalized text, so every
    non-empty document has at least one shingle (keeps Jaccard well-defined).

    Built per start position — ``transform(sequence(1, k-n+1), i ->
    concat_ws(' ', slice(words, i, n)))`` over the bound word array, the
    shape of the DuckDB mirrors' ``list_transform(range(...), i ->
    array_to_string(ws[i:i+n-1], ' '))``. The lambda reads only lambda
    variables, so nothing captured re-evaluates per element, and each gram
    is joined once from its own n words. An earlier chain of n-1
    ``zip_with`` levels re-copied every partial gram at each level,
    quadratic in ``n``: over 6,000 ~100-word docs on 4 cores, warm, it
    took 1.5-1.9 s at n=15 against 0.6-0.7 s for this form (equal at
    n=3)."""
    gram = f"CASE WHEN (size(x_2) >= {n}) THEN {_grams_sql(n)} ELSE array(x_1) END"
    return _bound_words_sql(col_sql, "array<string>", gram)


def span_hashes_sql(col_sql: str, n: int) -> str:
    """Distinct ``xxhash64`` of every ``n``-word span of the normalized
    text; NULL for NULL text and for documents under ``n`` words (they hold
    no n-word span — word_shingles' whole-text fallback is a Jaccard-only
    convention). ONE expression, so a generator wrapping it evaluates the
    span index once per document."""
    spans = f"array_distinct({_grams_sql(n, 'xxhash64({})')})"
    body = f"CASE WHEN (size(x_2) >= {n}) THEN {spans} ELSE cast(NULL as array<bigint>) END"
    return _bound_words_sql(col_sql, "array<bigint>", body)


def word_shingles(col: str, n: int = 3) -> Column:
    """Column form of :func:`word_shingles_sql` over a named column."""
    return F.expr(word_shingles_sql(sql_ident(col), n))
