"""Filter operators. Every predicate is SQL text (``predicate_sql``):
codegen'd, pushed into the scan where its columns allow, and never a
Python call.

Re-expresses the reference's filters:
  * TextLengthFilter  — operators/filters/text_length_filter.py:15-70
  * URLFilter         — operators/filters/url_filter.py:107-321 (RefinedWeb
                        §G.1 heuristics: blocklist, weighted word score,
                        quality-source exclusion)
  * ImageQualityFilter— operators/filters/image_quality_filter.py:19-56
  * WordScoreFilter   — the URLFilter word-scoring sub-rule generalized to
                        any text column (used standalone for text curation)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mega_data_factory_spark.functions.text import (
    sql_ident,
    sql_number_literal,
    sql_string_literal,
    text_length_sql,
    word_occurrences_sql,
)
from mega_data_factory_spark.operators.base import Filter


class TextLengthFilter(Filter):
    """Keep iff ``min_length <= effective_length <= max_length``.

    Effective length trusts a precomputed numeric length column when present,
    else ``length(text)``, else 0 (reference text_length_filter.py:43-57).
    Pure SQL expression — at scale this pushes into the parquet scan when
    the length column is materialized.
    """

    def __init__(
        self,
        min_length: int = 1,
        max_length: int = 10_000_000,
        *,
        text_col: str = "text",
        length_col: str | None = None,
        name: str | None = None,
    ):
        super().__init__(name)
        self.min_length = min_length
        self.max_length = max_length
        self.text_col = text_col
        self.length_col = length_col

    def predicate_sql(self, df: DataFrame) -> str:
        # the length column is trusted only when the frame carries it
        lc = self.length_col if self.length_col in (df.columns if df is not None else []) else None
        ln = text_length_sql(sql_ident(self.text_col), None if lc is None else sql_ident(lc))
        mn, mx = sql_number_literal(self.min_length), sql_number_literal(self.max_length)
        return f"(({ln} >= {mn}) AND ({ln} <= {mx}))"


def word_score_sql(col_sql: str, weights: dict[str, float]) -> str:
    """URLFilter-style weighted word score (reference url_filter.py:255-282):

        score = 0.8 * max(matched weights) + min(sum(matched weights)/3, 0.2)

    0.0 when nothing matches. Whole-word, case-insensitive matching. The
    arithmetic is a fixed-order expression tree, so an ANSI-SQL oracle that
    mirrors the word order computes bit-identical doubles.
    """
    matched = [
        f"CASE WHEN ({word_occurrences_sql(col_sql, w)} > 0) THEN {sql_number_literal(float(wt))} ELSE 0.0D END"
        for w, wt in weights.items()
    ]
    max_w = matched[0] if len(matched) == 1 else f"greatest({', '.join(matched)})"
    sum_w = matched[0]
    for m in matched[1:]:
        sum_w = f"({sum_w} + {m})"
    return f"CASE WHEN ({max_w} > 0) THEN ((0.8D * {max_w}) + least(({sum_w} / 3.0D), 0.2D)) ELSE 0.0D END"


def _suffixes_sql(dom_sql: str) -> str:
    """The domain's parent-suffix chain: ``a.b.c`` -> [a.b.c, b.c, c]. The
    split parts are bound once as the lambda variable ``p`` (a captured
    expression inside the per-suffix lambda would re-parse the URL per
    element)."""
    chain = "transform(sequence(1, size(p)), i -> concat_ws('.', slice(p, i, size(p))))"
    return f"transform(array(split({dom_sql}, '\\\\.')), p -> {chain})[0]"


def _array_sql(values) -> str:
    return f"array({', '.join(sql_string_literal(v) for v in values)})"


class WordScoreFilter(Filter):
    """Keep iff word_score_sql(text) < threshold (reference keeps URLs scoring
    *below* the block threshold, url_filter.py:284-321; default 0.5)."""

    def __init__(
        self,
        weights: dict[str, float],
        threshold: float = 0.5,
        *,
        text_col: str = "text",
        name: str | None = None,
    ):
        super().__init__(name)
        self.weights = dict(weights)
        self.threshold = threshold
        self.text_col = text_col

    def predicate_sql(self, df: DataFrame) -> str:
        score = word_score_sql(sql_ident(self.text_col), self.weights)
        return f"({score} < {sql_number_literal(self.threshold)})"


class DomainBlocklistFilter(Filter):
    """Reject rows whose domain (or any parent domain) is blocklisted —
    reference url_filter.py:217-234 (exact + parent-suffix match).

    Implementation: explode the domain into its parent-suffix chain with
    ``transform(sequence)`` and test membership via ``arrays_overlap``
    against a broadcast literal array. At real blocklist sizes (millions of
    domains) swap the literal for a broadcast **left-anti join** on the
    suffix-exploded frame — same semantics, still no fact-side shuffle.
    Rows without a domain are kept (url_filter.py:296-299).
    """

    def __init__(self, blocked_domains: list[str], *, domain_col: str = "domain", name: str | None = None):
        super().__init__(name)
        self.blocked = sorted({d.lower() for d in blocked_domains})
        self.domain_col = domain_col

    def predicate_sql(self, df: DataFrame) -> str:
        dom = f"lower({sql_ident(self.domain_col)})"
        return f"(({dom} IS NULL) OR (NOT arrays_overlap({_suffixes_sql(dom)}, {_array_sql(self.blocked)})))"


class UrlFilter(Filter):
    """Full URLFilter: blocklist + word score + optional quality-source
    allow-override (reference url_filter.py:107-321). Domain extraction uses
    ``parse_url`` with a default-scheme fallback (url_filter.py:207-215).
    """

    QUALITY_SOURCES = (
        "wikipedia.org",
        "arxiv.org",
        "github.com",
        "stackexchange.com",
        "stackoverflow.com",
    )

    def __init__(
        self,
        blocked_domains: list[str] | None = None,
        word_weights: dict[str, float] | None = None,
        threshold: float = 0.5,
        *,
        exclude_quality_sources: bool = False,
        url_col: str = "url",
        name: str | None = None,
    ):
        super().__init__(name)
        self.blocked = sorted({d.lower() for d in (blocked_domains or [])})
        self.weights = dict(word_weights or {})
        self.threshold = threshold
        self.exclude_quality = exclude_quality_sources
        self.url_col = url_col

    def _domain_sql(self) -> str:
        url = sql_ident(self.url_col)
        with_scheme = (
            f"CASE WHEN {url} RLIKE '^[a-zA-Z][a-zA-Z0-9+.-]*://' THEN {url} ELSE concat('http://', {url}) END"
        )
        # try_parse_url, NOT parse_url: under Spark 4's default ANSI mode
        # parse_url THROWS INVALID_URL on any malformed URL — one bad URL
        # (web crawls are full of them) would abort the whole job instead
        # of being filtered. Malformed -> NULL host, handled in predicate.
        return f"lower(try_parse_url({with_scheme}, 'HOST'))"

    def predicate_sql(self, df: DataFrame) -> str:
        url = sql_ident(self.url_col)
        suffixes = _suffixes_sql(self._domain_sql())
        keep = "true"
        if self.blocked:
            # NULL-safe: an unparsable/NULL host is NOT on the blocklist
            # (NULL would otherwise propagate through arrays_overlap and
            # the keep-condition would read the row as rejected — the
            # documented semantics keep no-domain rows, url_filter.py:296-299)
            keep = f"({keep} AND (NOT coalesce(arrays_overlap({suffixes}, {_array_sql(self.blocked)}), false)))"
        if self.weights:
            score = word_score_sql(url, self.weights)
            keep = f"({keep} AND ({score} < {sql_number_literal(self.threshold)}))"
        if self.exclude_quality:
            quality = _array_sql(self.QUALITY_SOURCES)
            keep = f"({keep} AND (NOT coalesce(arrays_overlap({suffixes}, {quality}), false)))"
        # records without URL are kept (url_filter.py:296-299)
        return f"((({url} IS NULL) OR (length(trim({url})) = 0)) OR {keep})"


class ImageQualityFilter(Filter):
    """Conjunctive thresholds over refiner-produced image columns
    (reference image_quality_filter.py:19-56; defaults 256/256/0.8/3.0,
    missing values treated as failing)."""

    def __init__(
        self,
        min_width: int = 256,
        min_height: int = 256,
        max_compression_artifacts: float = 0.8,
        min_entropy: float = 3.0,
        *,
        name: str | None = None,
    ):
        super().__init__(name)
        self.min_width = min_width
        self.min_height = min_height
        self.max_artifacts = max_compression_artifacts
        self.min_entropy = min_entropy

    def predicate_sql(self, df: DataFrame) -> str:
        w, h, art, ent = (
            sql_number_literal(v) for v in (self.min_width, self.min_height, self.max_artifacts, self.min_entropy)
        )
        return (
            f"((((coalesce(`image_width`, 0) >= {w}) AND (coalesce(`image_height`, 0) >= {h})) "
            f"AND (coalesce(`image_compression_artifacts`, 1.0D) <= {art})) "
            f"AND (coalesce(`image_information_entropy`, 0.0D) >= {ent}))"
        )


class NumericRangeFilter(Filter):
    """Generic numeric range predicate (engine extension — the relational
    analog of TextLengthFilter for arbitrary columns)."""

    def __init__(self, column: str, lo: float | None = None, hi: float | None = None, *, name: str | None = None):
        super().__init__(name)
        self.column = column
        self.lo = lo
        self.hi = hi

    def predicate_sql(self, df: DataFrame) -> str:
        c = sql_ident(self.column)
        cond = "true"
        if self.lo is not None:
            cond = f"({cond} AND ({c} >= {sql_number_literal(self.lo)}))"
        if self.hi is not None:
            cond = f"({cond} AND ({c} <= {sql_number_literal(self.hi)}))"
        return cond


class C4PageFilter(Filter):
    """Page-level C4 drop rules (Raffel et al. 2020, §2.2) over
    ``C4HeuristicRefiner`` columns: reject pages flagged for code (``{``),
    "lorem ipsum" placeholder text, or blocklist words, and pages whose
    cleaned text carries fewer than ``min_sentences`` sentences (C4: 5).
    NULL values in the flag/sentence columns count as failing, the
    ImageQualityFilter rule — a row the refiner left unannotated must not
    silently pass. The columns themselves must EXIST (apply
    ``C4HeuristicRefiner`` first); a frame without them fails analysis
    loudly rather than guessing."""

    def __init__(self, min_sentences: int = 5, *, name: str | None = None):
        super().__init__(name)
        self.min_sentences = min_sentences

    def predicate_sql(self, df: DataFrame) -> str:
        return (
            "((((NOT coalesce(`c4_flag_brace`, true)) "
            "AND (NOT coalesce(`c4_flag_lorem`, true))) "
            "AND (NOT coalesce(`c4_flag_badword`, true))) "
            f"AND (coalesce(`c4_sentences`, 0) >= {sql_number_literal(self.min_sentences)}))"
        )


class GopherQualityFilter(Filter):
    """The published Gopher quality-filter rules (Rae et al. 2021 §A1.1)
    over :class:`~mega_data_factory_spark.operators.refiners.GopherQualityRefiner`
    columns — apply the refiner first (a frame without the columns fails
    analysis loudly, the C4PageFilter contract). A page survives iff ALL
    hold, with the paper's thresholds as defaults (every one a
    constructor knob):

      * 50 <= word count <= 100,000;
      * 3 <= mean word length <= 10;
      * '#'-to-word and ellipsis-to-word ratios <= 0.1;
      * <= 90% of lines start with a bullet, <= 30% end in an ellipsis;
      * >= 80% of words contain an alphabetic character;
      * >= 2 of the paper's eight stopwords present.

    NULL signal values count as failing (the ImageQualityFilter rule — a
    row the refiner left unannotated must not silently pass)."""

    def __init__(
        self,
        *,
        min_words: int = 50,
        max_words: int = 100_000,
        min_mean_word_len: float = 3.0,
        max_mean_word_len: float = 10.0,
        max_symbol_ratio: float = 0.1,
        max_bullet_line_frac: float = 0.9,
        max_ellipsis_line_frac: float = 0.3,
        min_alpha_word_frac: float = 0.8,
        min_stopwords: int = 2,
        name: str | None = None,
    ):
        super().__init__(name)
        self.min_words = min_words
        self.max_words = max_words
        self.min_mean_word_len = min_mean_word_len
        self.max_mean_word_len = max_mean_word_len
        self.max_symbol_ratio = max_symbol_ratio
        self.max_bullet_line_frac = max_bullet_line_frac
        self.max_ellipsis_line_frac = max_ellipsis_line_frac
        self.min_alpha_word_frac = min_alpha_word_frac
        self.min_stopwords = min_stopwords

    def predicate_sql(self, df: DataFrame) -> str:
        mnw, mxw, mnl, mxl, sym, bul, ell, alpha, stop = (
            sql_number_literal(v)
            for v in (
                self.min_words,
                self.max_words,
                self.min_mean_word_len,
                self.max_mean_word_len,
                self.max_symbol_ratio,
                self.max_bullet_line_frac,
                self.max_ellipsis_line_frac,
                self.min_alpha_word_frac,
                self.min_stopwords,
            )
        )
        wc = "coalesce(`gopher_word_count`, -1)"
        mwl = "coalesce(`gopher_mean_word_len`, -1.0D)"
        clauses = [
            f"(({wc} >= {mnw}) AND ({wc} <= {mxw}))",
            f"(({mwl} >= {mnl}) AND ({mwl} <= {mxl}))",
            f"(coalesce(`gopher_hash_ratio`, 1.0D) <= {sym})",
            f"(coalesce(`gopher_ellipsis_ratio`, 1.0D) <= {sym})",
            f"(coalesce(`gopher_bullet_line_frac`, 1.0D) <= {bul})",
            f"(coalesce(`gopher_ellipsis_line_frac`, 1.0D) <= {ell})",
            f"(coalesce(`gopher_alpha_word_frac`, 0.0D) >= {alpha})",
            f"(coalesce(`gopher_stopword_count`, 0) >= {stop})",
        ]
        out = clauses[0]
        for c in clauses[1:]:
            out = f"({out} AND {c})"
        return out
