"""Text refiners (projection-extension operators, SELECT *, f(...) AS col).

The reference's refiners are image-model ops (SURVEY §2.3); the text-side
refiners here are the text-analysis operators a training-data pipeline needs
(language-ID heuristic, quality scoring, token counting, fingerprinting) —
first-class engine extensions per the build brief. Expressions SQL can
spell are authored as SQL text (``columns_sql_text``; one parse per
projection) — codegen'd, no Python, oracle-expressible.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it in globals
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mega_data_factory_spark.functions.hashing import hash64_from_md5
from mega_data_factory_spark.functions.text import (
    normalize_text_sql,
    sql_ident,
    sql_number_literal,
    sql_string_literal,
    text_length_sql,
    token_count_sql,
    word_occurrences_sql,
)
from mega_data_factory_spark.operators.base import Refiner


class TextStatsRefiner(Refiner):
    """Adds ``text_length`` (effective length), ``token_count``, and
    ``avg_token_len`` (rounded to 6) — the cheap structural text stats."""

    def __init__(self, *, text_col: str = "text", length_col: str | None = None, name: str | None = None):
        super().__init__(name)
        self.text_col = text_col
        self.length_col = length_col

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        ref = sql_ident(self.text_col)
        len_ref = None if self.length_col is None else sql_ident(self.length_col)
        tok = token_count_sql(ref)
        # chars-in-tokens / tokens; normalized text has single spaces, so
        # chars-in-tokens = len(norm) - (tokens - 1)
        norm = normalize_text_sql(ref, lowercase=False)
        avg_len = (
            f"CASE WHEN ({tok} > 0) THEN "
            f"round(cast(length({norm}) - ({tok} - 1) as double) / {tok}, 6) "
            f"ELSE 0.0D END"
        )
        return {
            "text_length": text_length_sql(ref, len_ref),
            "token_count": tok,
            "avg_token_len": avg_len,
        }


# Per-language marker words for the n-gram/stopword language-ID heuristic.
# Deliberately tiny and ASCII so the oracle can mirror the exact counting.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "a"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "les", "et", "des"),
}


class LanguageIdRefiner(Refiner):
    """Heuristic language ID: count whole-word marker hits per language and
    take the argmax (ties broken by the fixed language order; 'und' —
    undetermined — when nothing matches). Adds ``lang_pred`` and
    ``lang_score`` (the winning hit count).

    This is the classic stopword/n-gram-profile heuristic (Cavnar-Trenkle
    style) reduced to an oracle-checkable closed form.
    """

    def __init__(self, *, text_col: str = "text", markers: dict[str, tuple[str, ...]] | None = None, name: str | None = None):
        super().__init__(name)
        self.text_col = text_col
        self.markers = markers or LANG_MARKERS

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        # Per-language marker counts are bound once as a lambda variable
        # (the round-10 expression-binding lesson, see QualityScoreRefiner
        # below): the naive tree referenced each language's regex-count
        # sum in `greatest` AND in every when-chain arm, so a pushed-down
        # LanguageCut predicate re-ran ~3x the marker regexes per row
        # interpreted. The result struct is emitted ONCE, under a private
        # key, and the two output columns read its fields by name: the
        # pipeline's tag wraps each output column in its own alive-gate
        # CASE, whose branches codegen CSE does not enter, so two getField
        # copies of the tree would run every marker regex twice per row
        # (1,500 docs warm: 490 ms against 277 ms for one copy). First
        # language in declared order wins ties: the
        # CASE chain is built reversed so earlier languages wrap later
        # ones.
        ref = sql_ident(self.text_col)
        scores = {
            lang: " + ".join(word_occurrences_sql(ref, w) for w in words)
            for lang, words in self.markers.items()
        }
        langs = list(scores)
        fields = ", ".join(f"{scores[lang]} AS s_{i}" for i, lang in enumerate(langs))
        base = f"array(struct({fields}))"
        vals = [f"x.s_{i}" for i in range(len(langs))]
        best = f"greatest({', '.join(vals)})" if len(langs) > 1 else vals[0]
        pred = "'und'"
        for i in reversed(range(len(langs))):
            pred = (
                f"CASE WHEN ({vals[i]} = {best}) "
                f"THEN {sql_string_literal(langs[i])} ELSE {pred} END"
            )
        pred = f"CASE WHEN ({best} > 0) THEN {pred} ELSE 'und' END"
        return {
            "__lang_id": f"transform({base}, x -> struct({pred} AS lang_pred, {best} AS lang_score))[0]",
            "lang_pred": "`__lang_id`.lang_pred",
            "lang_score": "`__lang_id`.lang_score",
        }


DEFAULT_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")


class QualityScoreRefiner(Refiner):
    """Heuristic document quality score in [0,1] from structural signals
    (length band, stopword ratio, mean token length band) — the deterministic
    skeleton of RefinedWeb/Gopher-style quality rules. Adds
    ``stopword_ratio`` and ``quality_score`` (both rounded to 6).

    score = 0.4 * clamp(tokens/200) + 0.3 * min(stopword_ratio*5, 1)
          + 0.3 * (3 <= avg_token_len <= 10)
    """

    def __init__(self, *, text_col: str = "text", stopwords: tuple[str, ...] = DEFAULT_STOPWORDS, name: str | None = None):
        super().__init__(name)
        self.text_col = text_col
        self.stopwords = stopwords

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        # Each BASE signal (token count, stopword hits, normalized length)
        # is bound once as a lambda variable and the derived arithmetic
        # reads the bound values. The naive formulation nested `tokens`
        # inside ratio/avg_len/band/score, so the authored tree carried ~6
        # copies of split(regexp_replace(text)) and 2 copies of the
        # 10-regex stopword count — harmless under codegen CSE, but a
        # pushed-down NumericRangeFilter(quality_score >= x) inlines the
        # WHOLE tree into an interpreted predicate (the surrounding
        # Project holds HOFs -> CodegenFallback, no subexpression
        # elimination), re-scanning the text per copy per row: measured
        # 11s -> 0.06s on a 500k-doc quality_rules chain (round-10
        # scripts/diag_fineweb.out attribution). Values are bit-identical —
        # same arithmetic on the same doubles. The result struct is
        # emitted ONCE, under a private key, and the output columns read
        # its fields: codegen CSE does not enter the pipeline tag's
        # per-column alive-gate CASE, so two getField copies would run
        # every stopword regex twice per row (1,500 docs warm: 629 ms
        # against 309 ms for one copy).
        # Double literals carry the D suffix — bare 0.0 parses as DECIMAL
        # in Spark SQL, which would change the arithmetic.
        ref = sql_ident(self.text_col)
        tok = token_count_sql(ref)
        sh = " + ".join(word_occurrences_sql(ref, w) for w in self.stopwords)
        norm = normalize_text_sql(ref, lowercase=False)
        base = (
            f"array(struct(cast({tok} as double) AS t, cast({sh} as double) AS sh, "
            f"cast(length({norm}) as double) AS ln))"
        )
        ratio = "CASE WHEN (x.t > 0) THEN x.sh / x.t ELSE 0.0D END"
        avg_len = "CASE WHEN (x.t > 0) THEN (x.ln - (x.t - 1.0D)) / x.t ELSE 0.0D END"
        length_component = "least(x.t / 200.0D, 1.0D)"
        stop_component = f"least({ratio} * 5.0D, 1.0D)"
        len_band = f"CASE WHEN (({avg_len} >= 3.0D) AND ({avg_len} <= 10.0D)) THEN 1.0D ELSE 0.0D END"
        score = f"0.4D * {length_component} + 0.3D * {stop_component} + 0.3D * {len_band}"
        return {
            "__quality": (
                f"transform({base}, x -> struct(round({ratio}, 6) AS stopword_ratio, "
                f"round({score}, 6) AS quality_score))[0]"
            ),
            "stopword_ratio": "`__quality`.stopword_ratio",
            "quality_score": "`__quality`.quality_score",
        }


# Gopher quality-rule constants (Rae et al. 2021, Appendix A1.1) — the
# published thresholds; every one is overridable on the filter. The
# stopword list is the paper's own ("the, be, to, of, and, that, have,
# with"); presence of >= 2 is the rule, not frequency.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_BULLETS = ("•", "‣", "▪", "-", "*")
# explicit class, not \s: Java's \s includes \x0B, RE2's (DuckDB) does not
GOPHER_WS = "[ \\t\\x0B\\f\\r\\n]+"
# kept as constants: Python 3.11 f-strings reject backslashes
_GOPHER_NONWORD = r"\W+"
_GOPHER_ELLIPSIS = r"\.{3,}|…"


class GopherQualityRefiner(Refiner):
    """The published Gopher QUALITY signals (Rae et al. 2021 §A1.1) — the
    document-structure half of the Gopher rules; the repetition half is
    :class:`RepetitionStatsRefiner`, and together with the C4 and
    RefinedWeb operators this completes the published-recipe cleaning
    trio. Beyond the reference's surface — first-class per the build
    brief.

    Adds (all rounded to 6 where fractional; NULL text yields NULLs so
    the filter's NULL-fails rule applies):
      * ``gopher_word_count`` — whitespace words;
      * ``gopher_mean_word_len`` — characters per word;
      * ``gopher_hash_ratio`` / ``gopher_ellipsis_ratio`` — '#' and
        '...'/'…' occurrences per word (the paper's symbol-to-word
        ratios);
      * ``gopher_bullet_line_frac`` — fraction of lines starting with a
        bullet glyph; ``gopher_ellipsis_line_frac`` — fraction ending in
        an ellipsis;
      * ``gopher_alpha_word_frac`` — fraction of words containing at
        least one [A-Za-z] character;
      * ``gopher_stopword_count`` — how many of the paper's eight
        stopwords appear (presence, not frequency).

    Scale shape: pure higher-order functions over the split arrays —
    narrow map, fuses into the scan, zero shuffle, zero Python; every
    expression is in the Java/RE2 common subset, so the DuckDB mirror is
    token-for-token (tests/test_curation.py holds the driver-gate bar)."""

    def __init__(self, *, text_col: str = "text", name: str | None = None):
        super().__init__(name)
        self.text_col = text_col

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        ref = sql_ident(self.text_col)
        words = f"filter(split({ref}, {sql_string_literal(GOPHER_WS)}), x -> (NOT (x = '')))"
        wc = f"size({words})"
        n_chars = f"aggregate({words}, cast(0 as bigint), (x, y) -> x + length(y))"
        mean_len = f"CASE WHEN ({wc} > 0) THEN round(cast({n_chars} as double) / {wc}, 6) END"
        lines = f"split({ref}, '\\n')"
        n_lines = f"size({lines})"
        starts = [f"startswith(trim(x), {sql_string_literal(g)})" for g in GOPHER_BULLETS]
        bullet_pred = starts[0]
        for s in starts[1:]:
            bullet_pred = f"({bullet_pred} OR {s})"
        bullet = f"size(filter({lines}, x -> {bullet_pred}))"
        ell_lines = (
            f"size(filter({lines}, x -> (endswith(rtrim(x), '...') OR endswith(rtrim(x), '…'))))"
        )
        alpha = f"size(filter({words}, x -> x RLIKE '[A-Za-z]'))"
        # "how many of the paper's eight stopwords appear" — tokenize ONCE
        # on non-word-char runs and intersect with the stopword set.
        # Exactly equivalent to per-word boundary regexes
        # ('(^|[^0-9A-Za-z_])the([^0-9A-Za-z_]|$)'): a match there is
        # precisely 'the' occurring as a maximal [0-9A-Za-z_]-run, i.e. a
        # token of this split ('the7'/'7the'/'the_' are single tokens and
        # match neither form). Two measured Java-regex cliffs drove this
        # shape (500k docs, sf10): the 8-regex form re-scanned the text
        # per stopword (151 s, 40x the other seven signals COMBINED), and
        # the spelled-out negated class '[^0-9a-z_]+' misses the engine's
        # named-class fast path (24.8 s) where '\\W+' — the identical
        # ASCII class, token-count-verified — splits in 0.9 s. The DuckDB
        # oracle keeps the boundary-regex formulation, so the equivalence
        # is hash-checked per row, not asserted.
        stop_set = ", ".join(sql_string_literal(w) for w in GOPHER_STOPWORDS)
        stop_tokens = f"split(lower({ref}), {sql_string_literal(_GOPHER_NONWORD)})"
        stop_hits = f"size(array_intersect(array({stop_set}), {stop_tokens}))"

        def per_word(n: str) -> str:
            return f"CASE WHEN ({wc} > 0) THEN round(cast({n} as double) / {wc}, 6) END"

        return {
            "gopher_word_count": f"cast(CASE WHEN ({ref} IS NOT NULL) THEN {wc} END as int)",
            "gopher_mean_word_len": mean_len,
            "gopher_hash_ratio": per_word(f"regexp_count({ref}, '#')"),
            # count RUNS of 3+ dots (or a '…' glyph) — '.....' is one
            # ellipsis, not two; the c4_sentences run-counting lesson
            "gopher_ellipsis_ratio": per_word(
                f"regexp_count({ref}, {sql_string_literal(_GOPHER_ELLIPSIS)})"
            ),
            "gopher_bullet_line_frac": (
                f"CASE WHEN ({n_lines} > 0) THEN round(cast({bullet} as double) / {n_lines}, 6) END"
            ),
            "gopher_ellipsis_line_frac": (
                f"CASE WHEN ({n_lines} > 0) THEN round(cast({ell_lines} as double) / {n_lines}, 6) END"
            ),
            "gopher_alpha_word_frac": per_word(alpha),
            "gopher_stopword_count": (
                f"cast(CASE WHEN ({ref} IS NOT NULL) THEN {stop_hits} END as int)"
            ),
        }


class RepetitionStatsRefiner(Refiner):
    """Gopher-rule repetition signals (Rae et al. 2021 §A1.1: documents
    dominated by repeated lines/n-grams are low-quality): adds
    ``dup_word_ratio`` (1 - distinct/total words) and ``top_bigram_ratio``
    (most frequent word bigram's share of all bigrams), both rounded to 6.
    Beyond the reference's surface — first-class per the build brief.

    Default form: pure SQL expressions (array HOFs) so the DuckDB oracle
    mirrors them exactly. The per-row top-bigram count is a SINGLE pass
    over the sorted bigram array (``array_sort`` + an ``aggregate``
    longest-equal-run scan — O(n log n) per row). An earlier formulation
    nested ``filter(bg, ...)`` inside a per-distinct-bigram lambda; Spark
    re-evaluates a lambda-captured expression TREE on every element, so
    the normalize-regex + split + zip_with pipeline ran distinct-bigram
    times per row — measured ~116 ms/row interpreted (the expression is
    past the codegen fallback) vs ~0.1 ms for the sorted-run form. Lesson
    encoded here: never reference a non-trivial expression inside a HOF
    lambda; sort + single-pass instead, or bind it to a real column first.
    ``long_docs=True`` switches ``apply`` to the linear-cost aggregation
    form: explode bigrams -> groupBy(id, bigram) count -> max/sum per id
    -> join back. Two shuffles on compact (id, 8-byte bigram hash) keys
    with map-side combine; results are identical (property-tested). Needs
    a unique ``id_col``."""

    def __init__(
        self,
        *,
        text_col: str = "text",
        long_docs: bool = False,
        id_col: str = "doc_id",
        name: str | None = None,
    ):
        super().__init__(name)
        self.text_col = text_col
        self.long_docs = long_docs
        self.id_col = id_col

    def _words_sql(self) -> str:
        return f"split({normalize_text_sql(sql_ident(self.text_col))}, ' ')"

    # word bigrams of the word array bound to lambda variable x (inner
    # binders reuse the name x — shadowing is safe, no inner lambda reads
    # an outer binder)
    _BIGRAMS = (
        "zip_with(slice(x, 1, greatest(size(x) - 1, 0)), "
        "slice(x, 2, greatest(size(x) - 1, 0)), (x, y) -> concat(x, ' ', y))"
    )

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        # Both output columns bind their word/bigram arrays ONCE as lambda
        # variables (same round-10 lesson as QualityScoreRefiner: a
        # pushed-down filter inlines the authored tree into an interpreted
        # predicate, so every internal copy of split(normalize(text))
        # re-evaluates per row — the naive tree held ws x3 and bg x3).
        # The columns stay INDEPENDENT trees on purpose: a dup-only filter
        # (DupWordCut) must not drag the O(n log n) bigram sort into its
        # pushed predicate. The top-bigram count is the longest run of
        # equal consecutive elements in the SORTED bigram array == max
        # bigram frequency; the aggregate's lambda touches only its own
        # accumulator + element (no captured expression trees).
        ws = self._words_sql()
        dup_body = (
            "CASE WHEN (size(x) > 0) "
            "THEN 1.0D - cast(size(array_distinct(x)) as double) / size(x) "
            "ELSE 0.0D END"
        )
        dup = f"transform(array({ws}), x -> {dup_body})[0]"
        run = "CASE WHEN (y = x.prev) THEN x.run + 1 ELSE 1 END"
        top = (
            "aggregate(array_sort(x), struct('' AS prev, 0 AS run, 0 AS best), "
            f"(x, y) -> struct(y AS prev, {run} AS run, greatest(x.best, {run}) AS best), "
            "x -> x.best)"
        )
        top_body = (
            f"CASE WHEN (size(x) > 0) THEN cast({top} as double) / size(x) ELSE 0.0D END"
        )
        top_ratio = f"transform(transform(array({ws}), x -> {self._BIGRAMS}), x -> {top_body})[0]"
        return {
            "dup_word_ratio": f"round({dup}, 6)",
            "top_bigram_ratio": f"round({top_ratio}, 6)",
        }

    def apply(self, df: DataFrame) -> DataFrame:
        return self._apply_linear(df) if self.long_docs else super().apply(df)

    def tag(self, df: DataFrame) -> DataFrame:
        # the linear form is a full-frame transform (explode + joins) that
        # keeps the tag column; config pipelines, where book-length corpora
        # run, reach it only through this override
        return self._apply_linear(df) if self.long_docs else super().tag(df)

    def _apply_linear(self, df: DataFrame) -> DataFrame:
        """Linear-cost top-bigram for book-length rows. The exploded rows
        carry only (id, xxhash64(bigram)) — 16 bytes, text never shuffles —
        and both aggregations are map-side combinable, so per-row cost is
        O(total words) instead of the HOF form's O(distinct x total).
        dup_word_ratio stays the (linear) columns_sql_text expression."""
        id_col = self.id_col
        bg = F.expr(f"transform(array({self._words_sql()}), x -> {self._BIGRAMS})[0]")
        ex = df.select(F.col(id_col), F.explode(bg).alias("__bg")).select(
            id_col, F.xxhash64("__bg").alias("__bh")
        )
        stats = (
            ex.groupBy(id_col, "__bh")
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy(id_col)
            .agg(F.max("__c").alias("__top"), F.sum("__c").alias("__nbg"))
        )
        out = df.join(stats, on=id_col, how="left")
        top_ratio = F.when(
            F.col("__nbg") > 0, F.col("__top").cast("double") / F.col("__nbg")
        ).otherwise(F.lit(0.0))
        return (
            out.withColumn("dup_word_ratio", F.expr(self.columns_sql_text(df)["dup_word_ratio"]))
            .withColumn("top_bigram_ratio", F.round(F.coalesce(top_ratio, F.lit(0.0)), 6))
            .drop("__top", "__nbg")
        )


class CompressionRatioRefiner(Refiner):
    """zlib (DEFLATE) compression ratio per document — the published
    "gzip/compression ratio" quality heuristic (a standard signal in
    open-data curation stacks, e.g. the RedPajama-v2 quality-signal set
    and Dolma's repetition screens): near-duplicate boilerplate and
    template spam compress far below normal prose, while garbled /
    base64-ish / truly random text barely compresses. Filter both tails
    by composing with ``NumericRangeFilter`` on ``compression_ratio``
    (prose typically lands ~0.3-0.7 at the default level).

    ``compression_ratio = len(zlib.compress(utf8(text), level)) /
    len(utf8(text))``, rounded to 6. NULL and empty/whitespace-only text
    yield NULL — no signal, and a zero-byte denominator must not fake a
    "perfectly compressible" 0.0 that the low-tail filter would cut.

    Scale shape: ONE Arrow crossing (vectorized pandas_udf over the text
    batch; zlib runs at C speed), narrow map, zero shuffle — fuses into
    the scan like every other refiner. ``level=1`` default: ~3-5x the
    throughput of level 6 with nearly identical discriminative power
    (thresholds consume the RANKING, not the absolute ratio; pick one
    level per corpus and keep it — ratios across levels are not
    comparable). Beyond the reference's surface — first-class per the
    build brief. Not ANSI-SQL-expressible (DuckDB has no DEFLATE scalar):
    the pytest bar is a value-for-value differential against direct zlib
    over the real corpus plus planted tails (tests/test_curation.py)."""

    def __init__(
        self,
        *,
        text_col: str = "text",
        level: int = 1,
        out_col: str = "compression_ratio",
        name: str | None = None,
    ):
        super().__init__(name)
        if not 1 <= level <= 9:
            raise ValueError(f"level must be in [1, 9], got {level}")
        self.text_col = text_col
        self.level = int(level)
        self.out_col = out_col

    def _udf(self):
        import zlib

        import pandas as pd

        level = self.level

        @F.pandas_udf("double")
        def ratio(s: pd.Series) -> pd.Series:
            out = []
            for t in s:
                if t is None:
                    out.append(None)
                    continue
                b = t.encode("utf-8")
                if not b.strip():
                    out.append(None)
                    continue
                out.append(round(len(zlib.compress(b, level)) / len(b), 6))
            return pd.Series(out, dtype="float64")

        return ratio

    def udf_columns(self, df: DataFrame) -> dict[str, Column]:
        return {"__compression_ratio": self._udf().asNondeterministic()(F.col(self.text_col))}

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        return {self.out_col: "`__compression_ratio`"}


# PII patterns: deliberately anchored, ASCII, backtracking-free so Java
# regex (Spark) and RE2 (DuckDB) agree on every match boundary.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}[- ]\d{3}[- ]\d{4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


class PiiRedactRefiner(Refiner):
    """PII scrubbing for training corpora (emails, phone numbers, IPv4
    addresses — the standard pre-training redaction set): adds per-kind
    match counts and ``text_redacted`` with matches replaced by
    ``<EMAIL>``/``<PHONE>``/``<IP>`` placeholders. Beyond the reference's
    surface — first-class per the build brief.

    Replacement order is email -> phone -> ip (fixed and mirrored in the
    oracle): emails can contain digit runs, so they are consumed first;
    counts are measured on the ORIGINAL text. Pure codegen'd regexp
    expressions — at 100 TB this is a narrow map with zero shuffle."""

    def __init__(self, *, text_col: str = "text", name: str | None = None):
        super().__init__(name)
        self.text_col = text_col

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        t = sql_ident(self.text_col)
        email, phone, ip = (sql_string_literal(p) for p in (PII_EMAIL, PII_PHONE, PII_IPV4))
        redacted = f"regexp_replace({t}, {email}, '<EMAIL>')"
        redacted = f"regexp_replace({redacted}, {phone}, '<PHONE>')"
        redacted = f"regexp_replace({redacted}, {ip}, '<IP>')"
        return {
            "pii_email_count": f"regexp_count({t}, {email})",
            "pii_phone_count": f"regexp_count({t}, {phone})",
            "pii_ip_count": f"regexp_count({t}, {ip})",
            "text_redacted": redacted,
        }


class FingerprintRefiner(Refiner):
    """Adds ``fingerprint`` — md5 of the normalized text (the portable
    content fingerprint; reference text_exact_dedup.py derives its dedup key
    the same way) and ``fingerprint_prefix`` (first 8 hex chars, a compact
    shard/bucket key that keeps wide text out of shuffles — the phash
    precompute pattern of image_phash_dedup.py:75-76 generalized)."""

    def __init__(self, *, text_col: str = "text", name: str | None = None):
        super().__init__(name)
        self.text_col = text_col

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        # the md5 bound once: tag's per-column CASE keeps codegen from
        # sharing it between the two outputs
        norm = normalize_text_sql(sql_ident(self.text_col))
        return {
            "__fingerprint": f"md5(cast({norm} as string))",
            "fingerprint": "`__fingerprint`",
            "fingerprint_prefix": "substring(`__fingerprint`, 1, 8)",
        }


class BoilerplateLineRefiner(Refiner):
    """Cross-document boilerplate line removal — the RefinedWeb/CCNet
    line-level dedup step the document-level dedup family cannot express:
    navigation chrome, cookie banners, and footer lines repeat across a
    large fraction of a crawl's documents; stripping them per-document
    (rather than dropping whole docs) recovers the prose. A line is
    boilerplate iff it occurs in >= ``max(min_docs, min_doc_frac * corpus
    docs)`` DISTINCT documents (optionally per ``group_col`` — e.g. per
    domain, where chrome actually repeats). Adds ``text_cleaned`` plus a
    ``boilerplate_lines_removed`` count; the original column is untouched.

    Beyond the reference's surface — first-class per the build brief.

    Scale shape: two shuffles. (1) distinct (doc, line-hash) pairs are
    counted per line — the shuffle key is the md5 HASH of the line, never
    the line text (the minhash compact-key discipline); the doc-frequency
    cut bounds the boilerplate set the way NgramJaccard's DF cap bounds
    its index. (2) The rebuild regroups surviving lines per doc with an
    order-preserving sort_array over (position, line) structs. Short
    lines (< ``min_line_chars``) are never counted OR removed: they are
    too common to be meaningful and too cheap to keep.

    Not a ``columns_sql_text`` refiner — the line counts are a full-frame
    aggregate, so ``tag`` is ``apply``. SQL-mirrorable
    (split/unnest-with-ordinality/count/string_agg); the differential
    test holds the driver-gate bar (tests/test_curation.py).
    """

    def __init__(
        self,
        *,
        min_doc_frac: float = 0.05,
        min_docs: int = 3,
        min_line_chars: int = 10,
        text_col: str = "text",
        id_col: str = "doc_id",
        group_col: str | None = None,
        out_col: str = "text_cleaned",
        name: str | None = None,
    ):
        super().__init__(name)
        if not 0.0 < min_doc_frac <= 1.0:
            raise ValueError(f"min_doc_frac must be in (0, 1], got {min_doc_frac}")
        self.min_doc_frac = min_doc_frac
        self.min_docs = min_docs
        self.min_line_chars = min_line_chars
        self.text_col = text_col
        self.id_col = id_col
        self.group_col = group_col
        self.out_col = out_col

    def tag(self, df: DataFrame) -> DataFrame:
        return self.apply(df)

    def apply(self, df: DataFrame) -> DataFrame:
        from mega_data_factory_spark.operators.base import REJECTION_DETAILS_COL

        grp = [self.group_col] if self.group_col else []
        # In a pipeline, only ALIVE rows vote on what is boilerplate (and
        # only alive docs enter the denominator): a line repeating solely
        # among already-rejected docs must not be stripped from survivors.
        # The rebuild below still runs over the FULL frame so dead rows
        # keep their columns (NULLed by the tag guard at the end).
        voting = (
            df.filter(F.col(REJECTION_DETAILS_COL).isNull())
            if REJECTION_DETAILS_COL in df.columns
            else df
        )

        def _grp_key(g: str) -> Column:
            # NULL-safe group key: a plain equi-join on the group column
            # would silently exempt every NULL-group doc from removal
            # (SQL NULL never matches), exactly the no-domain crawl rows
            # that need it most. NUL sentinel, the KeyDeduplicator rule.
            return F.coalesce(F.col(g).cast("string"), F.lit("\x00")).alias(f"__g_{g}")

        gkeys = [f"__g_{g}" for g in grp]

        def _explode_lines(frame: DataFrame) -> DataFrame:
            # (doc, group-key, pos, line) — pos preserved for the rebuild
            return frame.select(
                F.col(self.id_col).alias("__id"),
                *[_grp_key(g) for g in grp],
                F.posexplode(F.split(F.col(self.text_col), "\n")).alias("__pos", "__line"),
            )

        lines = _explode_lines(df)
        countable = F.length(F.trim(F.col("__line"))) >= self.min_line_chars
        # distinct (doc, line) first: a line pasted 50x in ONE doc is
        # repetition (RepetitionStatsRefiner's job), not boilerplate
        pairs = (
            _explode_lines(voting)
            .filter(countable)
            .select(*gkeys, "__id", hash64_from_md5("__line").alias("__lh"))
            .distinct()
        )
        docs_per_grp = voting.groupBy(*[_grp_key(g) for g in grp]).agg(
            F.count(F.lit(1)).alias("__ndocs")
        )
        counts = pairs.groupBy(*gkeys, "__lh").agg(F.count(F.lit(1)).alias("__df"))
        # no broadcast hint: docs_per_grp is one row per GROUP — per-domain
        # grouping on a web crawl makes that millions of rows, so let AQE
        # pick the join strategy from actual sizes
        boiler = counts.join(docs_per_grp, on=gkeys) if grp else counts.crossJoin(docs_per_grp)
        boiler = boiler.filter(
            F.col("__df") >= F.greatest(
                F.lit(self.min_docs), F.ceil(F.lit(self.min_doc_frac) * F.col("__ndocs"))
            )
        ).select(*gkeys, "__lh", F.lit(True).alias("__boiler"))
        tagged = lines.withColumn(
            "__lh", F.when(countable, hash64_from_md5("__line"))
        ).join(boiler, on=[*gkeys, "__lh"], how="left")
        rebuilt = (
            tagged.withColumn("__keep", F.col("__boiler").isNull())
            .groupBy("__id")
            .agg(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("__keep"), F.struct(F.col("__pos"), F.col("__line")))
                            )
                        ),
                        lambda s: s["__line"],
                    ),
                ).alias(self.out_col),
                F.sum(F.when(~F.col("__keep"), 1).otherwise(0)).alias(
                    "boilerplate_lines_removed"
                ),
            )
        )
        joined = df.join(
            rebuilt.withColumnRenamed("__id", self.id_col), on=self.id_col, how="left"
        )
        # NULL text produced no lines -> NULL cleaned text (not "")
        out = joined.withColumn(
            self.out_col,
            F.when(F.col(self.text_col).isNotNull(), F.col(self.out_col)),
        ).withColumn(
            "boilerplate_lines_removed",
            F.coalesce(F.col("boilerplate_lines_removed"), F.lit(0)).cast("int"),
        )
        if REJECTION_DETAILS_COL in df.columns:
            # pipeline path: dead rows keep their text untouched
            alive = F.col(REJECTION_DETAILS_COL).isNull()
            out = out.withColumn(
                self.out_col, F.when(alive, F.col(self.out_col))
            ).withColumn(
                "boilerplate_lines_removed",
                F.when(alive, F.col("boilerplate_lines_removed")),
            )
        return out


class UrlCanonicalizeRefiner(Refiner):
    """Adds ``url_canonical`` — the canonical scheme-less URL spelling
    (functions/urls.py: scheme/fragment dropped, host lowercased with
    www./port/userinfo stripped, trailing slash cut, tracking params
    removed, surviving query params sorted). C4/RefinedWeb dedup by URL
    before any content dedup; compose as
    ``KeyDeduplicator(["url_canonical"], ...)`` or point an
    ``IncrementalKeyDeduplicator`` store at it for cross-run URL dedup.
    Beyond the reference's surface — first-class per the build brief.

    Pure codegen'd regex/HOF SQL text in the Java/RE2 common subset; the
    DuckDB differential test mirrors every step token-for-token
    (tests/test_curation.py). Zero shuffle at any scale."""

    def __init__(self, *, url_col: str = "url", out_col: str = "url_canonical", name: str | None = None):
        super().__init__(name)
        self.url_col = url_col
        self.out_col = out_col

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        from mega_data_factory_spark.functions.urls import canonical_url_sql

        return {self.out_col: canonical_url_sql(sql_ident(self.url_col))}


class IntraDocDedupRefiner(Refiner):
    """INTRA-document repeated line/paragraph removal — the RefinedWeb
    line-wise dedup step at document scope, complementing
    :class:`BoilerplateLineRefiner` (cross-document) and
    ``RepetitionStatsRefiner`` (measures repetition without rewriting):
    scraped pages repeat nav blocks, quoted threads re-quote the same
    paragraph, and the standard fix keeps the FIRST occurrence of each
    exact unit and drops the rest. Adds ``text_deduped`` (units rejoined
    in original order) and ``dup_units_removed``. Beyond the reference's
    surface — first-class per the build brief.

    Units shorter than ``min_unit_chars`` after trim (bullet markers,
    blank separator lines) are never treated as duplicates — removing a
    repeated blank line would glue unrelated paragraphs together.

    Scale shape: pure higher-order functions over the split array — a
    narrow map that fuses into the scan, zero shuffle, zero Python (contrast
    BoilerplateLineRefiner's two corpus-level shuffles, which its
    cross-document counting genuinely needs). The duplicate scan is the
    sorted-run single pass (array_sort by (unit, position), one
    ``aggregate`` walk marking non-first run members) — the same linear
    form that replaced the quadratic top-bigram HOF; a nested
    filter-per-unit would re-evaluate the array O(n^2) times
    interpreted. SQL-mirrorable (unnest WITH ORDINALITY + row_number
    over (unit) + string_agg), held by the differential test in
    tests/test_curation.py.
    """

    def __init__(
        self,
        *,
        text_col: str = "text",
        sep: str = "\n",
        min_unit_chars: int = 10,
        out_col: str = "text_deduped",
        name: str | None = None,
    ):
        super().__init__(name)
        if not sep:
            raise ValueError("sep must be a non-empty separator string")
        self.text_col = text_col
        self.sep = sep
        self.min_unit_chars = min_unit_chars
        self.out_col = out_col

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        import re

        # the duplicate scan: sort (unit, position) pairs by unit then
        # position and walk them once, collecting the position of every
        # countable unit equal to its predecessor
        ref = sql_ident(self.text_col)
        units = f"split({ref}, {sql_string_literal(re.escape(self.sep))})"
        zipped = f"transform({units}, (x, y) -> struct(x AS u, y AS p))"
        by_unit = (
            f"array_sort({zipped}, (x, y) -> "
            "CASE WHEN (x.u < y.u) THEN -1 WHEN (x.u > y.u) THEN 1 ELSE x.p - y.p END)"
        )
        acc0 = "struct(cast(NULL as string) AS prev, cast(array() as array<int>) AS ps)"
        walked = (
            f"aggregate({by_unit}, {acc0}, (x, y) -> struct(y.u AS prev, "
            f"CASE WHEN ((y.u <=> x.prev) AND (length(trim(y.u)) >= {self.min_unit_chars})) "
            "THEN array_append(x.ps, y.p) ELSE x.ps END AS ps))"
        )
        dropped = f"{walked}.ps"
        kept = f"filter({zipped}, x -> (NOT array_contains({dropped}, x.p)))"
        rebuilt = (
            f"array_join(transform({kept}, x -> x.u), {sql_string_literal(self.sep)})"
        )
        return {
            self.out_col: f"CASE WHEN ({ref} IS NOT NULL) THEN {rebuilt} END",
            "dup_units_removed": (
                f"cast(CASE WHEN ({ref} IS NOT NULL) THEN size({dropped}) ELSE 0 END as int)"
            ),
        }


class C4HeuristicRefiner(Refiner):
    """C4-style line + page heuristic cleaning (Raffel et al. 2020, §2.2) —
    the third member of the published cleaning trio alongside the Gopher
    rules (``RepetitionStatsRefiner``) and the RefinedWeb line-level steps
    (``BoilerplateLineRefiner`` / ``IntraDocDedupRefiner``). Beyond the
    reference's surface — first-class per the build brief.

    Line rules (a line survives iff ALL hold):
      * ends in a terminal punctuation mark (``.`` ``!`` ``?`` ``"``);
      * contains at least ``min_words`` whitespace-separated words (C4: 3);
      * does not contain the word "javascript" (case-insensitive substring,
        as published — "we removed any line with the word Javascript").

    Adds ``c4_text`` (surviving lines rejoined with ``\\n``; NULL text stays
    NULL), ``c4_lines_removed``, ``c4_sentences`` (terminal-punctuation
    count in the cleaned text — the §2.2 "fewer than 5 sentences" signal),
    and the page-level drop flags C4 applies wholesale: ``c4_flag_brace``
    (page contains ``{`` — code), ``c4_flag_lorem`` (page contains
    "lorem ipsum"), ``c4_flag_badword`` (page contains any configured
    blocklist word, whole-word match; the published pipeline uses the
    LDNOOBW list — supply it via ``bad_words``, the default is empty).
    Compose with :class:`~mega_data_factory_spark.operators.filters.C4PageFilter`
    to drop flagged/short pages; the three-sentence-span dedup step is
    ``SharedSpanDeduplicator``.

    Scale shape: pure SQL HOFs over the split array — narrow map, fuses
    into the scan, zero shuffle, zero Python. Fully SQL-mirrorable
    (list_filter + regexp_matches + array_to_string); the differential test
    in tests/test_curation.py holds the driver-gate bar. The keep-filter HOF
    is evaluated once per row (the private ``__c4`` binding).
    """

    def __init__(
        self,
        *,
        text_col: str = "text",
        min_words: int = 3,
        bad_words: tuple[str, ...] = (),
        out_col: str = "c4_text",
        name: str | None = None,
    ):
        super().__init__(name)
        if min_words < 1:
            raise ValueError(f"min_words must be >= 1, got {min_words}")
        if any(not w or not w.strip() for w in bad_words):
            # an empty entry would compile to an empty alternation branch
            # (\b()\b) that matches every page
            raise ValueError("bad_words entries must be non-blank")
        self.text_col = text_col
        self.min_words = min_words
        self.bad_words = tuple(bad_words)
        self.out_col = out_col

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        import re as _re

        t = sql_ident(self.text_col)
        nl = sql_string_literal("\n")
        # explicit whitespace class, not \s: Java's \s includes \x0B,
        # RE2's (DuckDB) does not — the BPE fit/encode parity lesson
        ws, end = sql_string_literal("[ \\t\\x0B\\f\\r]+"), sql_string_literal('[.!?"]$')
        words = f"size(filter(split(trim(x), {ws}), x -> (NOT (x = ''))))"
        keep = (
            f"((trim(x) RLIKE {end}) AND ({words} >= {sql_number_literal(self.min_words)}) "
            "AND (NOT contains(lower(x), 'javascript')))"
        )
        kept = f"filter(split({t}, {nl}), x -> {keep})"
        if self.bad_words:
            # ONE alternation regex, not a scan per word: the published
            # LDNOOBW list is ~400 entries, and 400 regexp passes per row
            # would dominate the refiner. Boundaries are LOOKAROUNDS, not
            # \b: list entries that START or END in a non-word character
            # ('a$$'-style) have no \b at that edge — \b between two
            # non-word chars never matches — so the \b form silently
            # un-flags exactly the entries the list exists for. And not
            # consuming (^|\W)...(\W|$) groups either: a pattern that
            # LEADS with the boundary alternation forces Java's engine to
            # attempt it at every position (measured 22-24 s over 500k
            # sf10 docs vs 0.7-1.0 s for the identical-semantics
            # lookaround form, which leads with the Boyer-Moore-able
            # literal alternation — the gopher_stopword_count regex-cliff
            # lesson). Lookarounds are Java-only; the DuckDB oracle keeps
            # the consuming-group form (RE2 has no lookbehind), so the
            # equivalence is hash-checked per row by the c4_clean gate.
            alts = "|".join(_re.escape(w.lower()) for w in self.bad_words)
            pat = r"(?<![0-9A-Za-z_])(?:" + alts + r")(?![0-9A-Za-z_])"
            badword = f"(lower({t}) RLIKE {sql_string_literal(pat)})"
        else:
            badword = "false"
        # the keep-filter HOF runs once per row: its cleaned text and kept
        # count are bound together as one private struct, and the sentence
        # proxy reads the cleaned text from it. The proxy counts terminal-
        # punctuation RUNS — '[.!?]+' not '[.!?]', so an ellipsis "..." is
        # one sentence boundary, not three (a page with fewer real
        # sentences than C4PageFilter's min_sentences must not spuriously
        # pass the >=5 gate) — the deterministic proxy both engines
        # compute identically
        cleaned = f"CASE WHEN ({t} IS NOT NULL) THEN `__c4`.text END"
        return {
            "__c4": f"transform(array({kept}), x -> struct(array_join(x, {nl}) AS text, size(x) AS n_kept))[0]",
            self.out_col: cleaned,
            "c4_lines_removed": (
                f"cast(CASE WHEN ({t} IS NOT NULL) THEN (size(split({t}, {nl})) - `__c4`.n_kept) ELSE 0 END as int)"
            ),
            "c4_flag_brace": f"coalesce(contains({t}, '{{'), false)",
            "c4_flag_lorem": f"coalesce(contains(lower({t}), 'lorem ipsum'), false)",
            "c4_flag_badword": f"CASE WHEN ({t} IS NOT NULL) THEN {badword} ELSE false END",
            "c4_sentences": f"cast(coalesce(regexp_count({cleaned}, '[.!?]+'), 0) as int)",
        }


class UnicodeNormalizeRefiner(Refiner):
    """Text hygiene: Unicode NFC normalization + control-character strip
    (keeping \\n and \\t), with an optional mojibake repair pass — web
    crawls mix NFC/NFD encodings of the same glyphs, which silently
    defeats every downstream exact/near dedup key ("café" != "café" when
    one is decomposed), and stray C0 controls break tokenizers.

    Beyond the reference's surface — first-class per the build brief.

    The normalize + control-strip path is SQL text: ICU4J's
    ``Normalizer.compose``/``decompose`` (shipped in Spark's jars) called
    through ``reflect``, then one ``regexp_replace``. It runs in the JVM
    with no Python worker and is mirrored value-for-value by DuckDB's
    ``nfc_normalize`` + regexp in the differential test. ICU throws on a
    NULL argument, so the call is NULL-guarded. ``reflect`` is
    nondeterministic to Catalyst and has no generated code: the
    projection stays out of whole-stage codegen and is not collapsed
    into its readers, but it adds no stage or exchange.

    ``fix_mojibake=True`` is a different behaviour, not another spelling:
    it additionally repairs the classic UTF-8-read-as-cp1252 double
    encoding ("Ã©" -> "é") via a sloppy-windows-1252 round-trip attempted
    only when telltale lead bytes are present and accepted only if it
    strictly shrinks the text. That byte-level heuristic has no SQL
    spelling, so this mode stays an Arrow-batched pandas UDF (Python's
    ``unicodedata`` does its normalization); it is pytest-only, not
    oracle-mirrored.

    Scale shape: narrow map, no shuffle; it fuses into the ingest scan's
    stage like the other refiners (the mojibake mode adds one Arrow
    crossing).
    """

    _CONTROL_RE = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
    # unicodedata form -> (ICU4J Normalizer method, compatibility flag)
    _ICU = {
        "NFC": ("compose", False),
        "NFKC": ("compose", True),
        "NFD": ("decompose", False),
        "NFKD": ("decompose", True),
    }

    def __init__(
        self,
        *,
        text_col: str = "text",
        out_col: str = "text_normalized",
        form: str = "NFC",
        fix_mojibake: bool = False,
        name: str | None = None,
    ):
        super().__init__(name)
        if form not in self._ICU:
            raise ValueError(f"form must be a unicodedata form, got {form!r}")
        self.text_col = text_col
        self.out_col = out_col
        self.form = form
        self.fix_mojibake = fix_mojibake

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        # the normalized text is bound once as a private key (or, under
        # fix_mojibake, as the UDF binding): unicode_changed reads it by
        # name, so the normalization runs once per row
        t = sql_ident(self.text_col)
        texts = {}
        if not self.fix_mojibake:
            method, compat = self._ICU[self.form]
            normalized = f"reflect('com.ibm.icu.text.Normalizer', '{method}', {t}, {sql_number_literal(compat)})"
            texts["__normalized"] = (
                f"CASE WHEN {t} IS NOT NULL THEN "
                f"regexp_replace({normalized}, {sql_string_literal(self._CONTROL_RE)}, '') END"
            )
        return {
            **texts,
            self.out_col: "`__normalized`",
            "unicode_changed": f"CASE WHEN ({t} IS NOT NULL) THEN ({t} != `__normalized`) END",
        }

    def udf_columns(self, df: DataFrame) -> dict[str, Column]:
        if not self.fix_mojibake:
            return {}
        import re as _re
        import unicodedata

        from pyspark.sql.functions import pandas_udf

        form = self.form
        ctrl = _re.compile(self._CONTROL_RE)
        # UTF-8 lead bytes seen through a latin-1 lens: Ã Â â €
        tell = _re.compile("[ÃÂâ€]")

        def sloppy_1252(s: str) -> bytes:
            # the mojibake lens is Windows-1252 with latin-1 passthrough
            # for the five undefined bytes (ftfy's "sloppy-windows-1252"):
            # smart-quote artifacts contain cp1252-only chars (Ux20AC,
            # Ux0153) AND raw C1 controls (Ux9D) in the same run, so
            # neither plain latin-1 nor plain cp1252 can re-encode them
            out = bytearray()
            for ch in s:
                try:
                    out += ch.encode("cp1252")
                except UnicodeEncodeError:
                    o = ord(ch)
                    if o > 0xFF:
                        raise
                    out.append(o)
            return bytes(out)

        @pandas_udf("string")
        def norm(vs: pd.Series) -> pd.Series:
            def one(s):
                if s is None:
                    return None
                if tell.search(s):
                    try:
                        repaired = sloppy_1252(s).decode("utf-8")
                        # accept only a strict shrink: real mojibake always
                        # collapses multi-char artifacts to one glyph
                        if len(repaired) < len(s):
                            s = repaired
                    except (UnicodeEncodeError, UnicodeDecodeError):
                        pass
                return ctrl.sub("", unicodedata.normalize(form, s))

            return vs.map(one)

        return {"__normalized": norm.asNondeterministic()(F.col(self.text_col))}
