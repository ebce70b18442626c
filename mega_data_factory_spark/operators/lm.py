"""N-gram language-model perplexity scoring — CCNet-style quality signal.

The CCNet pipeline (Wenzek et al. 2020) buckets CommonCrawl documents by
KenLM perplexity against a trusted corpus; it is the LM-based quality
filter every frontier-scale text pipeline runs alongside the structural
Gopher rules (operators/refiners.py). The reference repo has no LM filter
— this is beyond-reference per the build brief's training-data-pipeline
mandate. KenLM itself is a native library; what matters at engine level
(and what this module makes distributed) is the fit/score shape:

  * ``fit``: bigram + context counts over the reference corpus are two
    ``explode -> groupBy(gram)`` aggregates — map-side partial counts, one
    shuffle each on compact gram strings; the fitted model IS a DataFrame
    (``(w1, w2, c12)`` + ``(w1, c1)``), so a 100 TB fit never leaves the
    cluster.
  * ``score``: each document's bigrams left-join the model. The model
    tables are vocabulary-sized (Heaps' law: sublinear in corpus size —
    a few GB at web scale with the min_count cut), so Spark broadcasts
    them under the adaptive threshold; past that it is a shuffle join on
    the gram key. Per-document mean log-prob then reduces back on doc_id
    (one more compact shuffle) and joins onto the input.

Probabilities are add-k smoothed bigrams:
    p(w2 | w1) = (c(w1,w2) + k) / (c(w1) + k * V)
with V = training vocabulary size + 1 (the UNK slot), so unseen bigrams
and unseen contexts get a well-defined nonzero probability. Perplexity is
``exp(-mean ln p)`` over the doc's bigrams. All of it is deterministic
closed-form arithmetic on counts -> reproducible in ANSI SQL, and the
test suite holds the scorer to an exact DuckDB mirror
(tests/test_lm.py), the engine's standard correctness bar.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mega_data_factory_spark.functions.text import normalize_text
from mega_data_factory_spark.operators.base import Operator, Refiner

ROUND_TO = 6


def _words(text_col: str) -> Column:
    return F.split(normalize_text(text_col), " ")


class NgramPerplexityScorer(Operator):
    """Fit bigram counts on a reference corpus, then refine any corpus
    with ``doc_logprob`` (mean ln p per bigram) and ``perplexity``
    columns. Documents with fewer than 2 tokens get NULLs (no bigrams —
    score them with the structural rules instead).

    ``min_count`` drops hapax grams from the model (the KenLM pruning
    discipline): web-scale bigram tables are Zipf-tailed, and the cut
    bounds the model size that the score-side join broadcasts.

    Train-once / apply-later: ``save(path)`` persists the fitted model as
    parquet; ``NgramPerplexityScorer(model_path=path)`` (the YAML form)
    lazy-loads it on first ``apply`` and ADOPTS the stored
    ``add_k``/``min_count`` — smoothing params are part of the model.
    """

    def __init__(
        self,
        *,
        add_k: float = 0.1,
        min_count: int = 1,
        text_col: str = "text",
        model_path: str | None = None,
        name: str | None = None,
    ):
        super().__init__(name)
        if add_k <= 0:
            raise ValueError(f"add_k must be > 0, got {add_k}")
        if min_count < 1:
            raise ValueError(f"min_count must be >= 1, got {min_count}")
        self.add_k = add_k
        self.min_count = min_count
        self.text_col = text_col
        self.model_path = model_path
        self._bigrams: DataFrame | None = None
        self._contexts: DataFrame | None = None
        self._vocab: int | None = None

    # ------------------------------------------------------------------ fit

    def _doc_bigrams(self, df: DataFrame, id_col: str | None = None) -> DataFrame:
        """(w1, w2) per position per document (duplicates preserved —
        counts are positional, not per-set); ``id_col`` threads the doc id
        through for the scoring side — ONE definition of the bigram
        extraction for fit and score, so the semantics can never drift."""
        w = _words(self.text_col)
        pairs = F.zip_with(w, F.slice(w, 2, F.size(w)), lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
        pairs = F.slice(pairs, 1, F.size(w) - F.lit(1))
        ids = [F.col(id_col).alias("__id")] if id_col else []
        keep = ["__id"] if id_col else []
        return df.select(*ids, F.explode(pairs).alias("p")).select(*keep, "p.w1", "p.w2")

    def unpersist(self) -> None:
        """Release the cached model frames (also called on re-fit). This is
        the eviction path for BOTH fit() and ``model_path``-loaded frames —
        long-lived sessions constructing scorers repeatedly must call it (or
        use the scorer as a context manager / ``Pipeline.close()``), else
        each ``_ensure_fitted`` pins another vocabulary-sized pair in
        executor storage. A later ``apply()`` transparently re-loads from
        ``model_path``."""
        for cached in (self._bigrams, self._contexts):
            if cached is not None:
                cached.unpersist()
        self._bigrams = self._contexts = self._vocab = None

    # teardown aliases: `with NgramPerplexityScorer(model_path=p) as s: ...`
    close = unpersist

    def __enter__(self) -> "NgramPerplexityScorer":
        return self

    def __exit__(self, *exc) -> None:
        self.unpersist()

    def fit(self, df: DataFrame) -> "NgramPerplexityScorer":
        self.unpersist()
        grams = self._doc_bigrams(df)
        self._bigrams = (
            grams.groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c12"))
            .filter(F.col("c12") >= self.min_count)
            .persist()
        )
        # context counts from the SAME positional stream (c1 = sum of c12
        # before the min_count cut would undercount contexts; count the
        # raw stream so p(.|w1) stays a proper distribution)
        self._contexts = grams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1")).persist()
        self._vocab = (
            df.select(F.explode(_words(self.text_col)).alias("w")).filter(F.col("w") != "").distinct().count()
            + 1  # UNK slot
        )
        return self

    # ---------------------------------------------------------- persistence

    def save(self, path: str) -> None:
        """Persist the fitted model as parquet under ``path`` (``bigrams``
        / ``contexts`` tables + a one-row ``meta``) — train-once /
        apply-later, the QualityClassifier/BpeTokenizer discipline. The
        model IS two DataFrames (vocabulary-sized), so parquet-through-
        Spark keeps save/load cluster-path-safe (no driver-local files)."""
        if self._bigrams is None or self._contexts is None or self._vocab is None:
            raise ValueError("call fit(reference_corpus) before save()")
        self._bigrams.write.mode("overwrite").parquet(f"{path}/bigrams")
        self._contexts.write.mode("overwrite").parquet(f"{path}/contexts")
        self._bigrams.sparkSession.createDataFrame(
            [(int(self._vocab), float(self.add_k), int(self.min_count))],
            "vocab long, add_k double, min_count int",
        ).write.mode("overwrite").parquet(f"{path}/meta")

    def _ensure_fitted(self, spark) -> None:
        if self._bigrams is not None:
            return
        if self.model_path is None:
            raise ValueError("call fit(reference_corpus) first, or construct with model_path=")
        meta = spark.read.parquet(f"{self.model_path}/meta").first()
        # stored add_k/min_count ARE part of the model (the probabilities
        # they produced were validated together) — loading adopts them so
        # a default-constructed YAML scorer cannot silently re-smooth a
        # persisted model differently
        self._vocab = int(meta["vocab"])
        self.add_k = float(meta["add_k"])
        self.min_count = int(meta["min_count"])
        self._bigrams = spark.read.parquet(f"{self.model_path}/bigrams").persist()
        self._contexts = spark.read.parquet(f"{self.model_path}/contexts").persist()

    # ---------------------------------------------------------------- score

    def apply(self, df: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
        self._ensure_fitted(df.sparkSession)
        if self._bigrams is None or self._contexts is None or self._vocab is None:
            raise ValueError("call fit(reference_corpus) before apply()")
        k, v = float(self.add_k), int(self._vocab)
        doc_grams = self._doc_bigrams(df, id_col=id_col)
        scored = (
            doc_grams.join(self._bigrams, ["w1", "w2"], "left")
            .join(self._contexts, ["w1"], "left")
            .select(
                "__id",
                F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)).cast("double") + F.lit(k))
                    / (F.coalesce(F.col("c1"), F.lit(0)).cast("double") + F.lit(k * v))
                ).alias("__lp"),
            )
        )
        per_doc = scored.groupBy("__id").agg(
            F.round(F.avg("__lp"), ROUND_TO).alias("doc_logprob"),
            F.round(F.exp(-F.avg("__lp")), ROUND_TO).alias("perplexity"),
        )
        out = df.join(per_doc, df[id_col] == F.col("__id"), "left").drop("__id")
        return out


class PerplexityBucketRefiner(Refiner):
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020, §4.3): per
    language, rank documents by LM perplexity and cut the corpus into
    thirds — ``head`` (most Wikipedia-like) / ``middle`` / ``tail``. The
    published pipeline trains on head+middle and discards or down-weights
    tail. Generic over any score: ``score_col``/``cuts``/``labels`` are
    configurable; the defaults are the CCNet configuration over
    :class:`NgramPerplexityScorer`'s ``perplexity`` column. Beyond the
    reference's surface — first-class per the build brief.

    Scale shape: NO per-group total sort (a percent_rank window over a
    handful of language groups would funnel each language through one
    task). Instead, per-group threshold values are ONE small aggregate
    (``percentile`` exact by default, ``approx=True`` for the
    percentile_approx sketch at extreme scale — the profiler's
    exact-oracle/sketch-at-scale split) joined back on the group key;
    bucket assignment is a codegen'd comparison. Strategy left to AQE —
    groups-by-language are few, but per-domain grouping makes the
    threshold table large.

    Pipeline semantics: full-frame (thresholds are corpus statistics), so
    ``tag`` is ``apply``; only alive rows with a non-NULL score vote, dead
    rows and NULL scores get a NULL bucket. NULL group values form their OWN group (the
    BoilerplateLineRefiner NUL-sentinel rule) and get real buckets — a
    missing language tag must not exempt documents from the cut; an SQL
    mirror must therefore group on ``COALESCE(g, chr(0))`` too, not a
    bare equi-join. Exact mode is SQL-mirrorable under that rule (DuckDB
    ``quantile_cont`` computes the same ``p*(n-1)`` linear interpolation
    on identical doubles); tests/test_lm.py holds the driver-gate bar
    including planted NULL-group rows.
    """

    def __init__(
        self,
        *,
        score_col: str = "perplexity",
        group_col: str | None = None,
        cuts: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
        labels: tuple[str, ...] = ("head", "middle", "tail"),
        out_col: str = "ppl_bucket",
        approx: bool = False,
        name: str | None = None,
    ):
        super().__init__(name)
        if len(labels) != len(cuts) + 1:
            raise ValueError(f"need len(cuts)+1 labels, got {len(cuts)} cuts / {len(labels)} labels")
        if list(cuts) != sorted(set(cuts)) or not all(0.0 < c < 1.0 for c in cuts):
            raise ValueError(f"cuts must be strictly increasing in (0, 1), got {cuts!r}")
        self.score_col = score_col
        self.group_col = group_col
        self.cuts = tuple(float(c) for c in cuts)
        self.labels = tuple(labels)
        self.out_col = out_col
        self.approx = approx

    def tag(self, df: DataFrame) -> DataFrame:
        return self.apply(df)

    def apply(self, df: DataFrame) -> DataFrame:
        from mega_data_factory_spark.operators.base import REJECTION_DETAILS_COL

        s = F.col(self.score_col).cast("double")
        grp = [self.group_col] if self.group_col else []
        # NULL-safe group sentinel (the BoilerplateLineRefiner rule): NULL
        # groups must still get thresholds, not a silently NULL bucket
        gexpr = [
            F.coalesce(F.col(g).cast("string"), F.lit("\x00")).alias(f"__g_{g}") for g in grp
        ]
        gkeys = [f"__g_{g}" for g in grp]

        voting = (
            df.filter(F.col(REJECTION_DETAILS_COL).isNull())
            if REJECTION_DETAILS_COL in df.columns
            else df
        ).filter(s.isNotNull())
        pct = F.percentile_approx if self.approx else F.percentile
        thresholds = (
            voting.select(*gexpr, s.alias("__s"))
            .groupBy(*gkeys)
            .agg(pct(F.col("__s"), F.array(*[F.lit(c) for c in self.cuts])).alias("__cuts"))
        )
        if grp:
            with_t = df.select("*", *gexpr).join(thresholds, on=gkeys, how="left").drop(*gkeys)
        else:
            # ungrouped: the global aggregate always yields exactly ONE row
            # (with NULL __cuts when no row voted — Spark global aggs never
            # return an empty frame), so a cross join is safe and AQE
            # broadcasts the single-row side
            with_t = df.crossJoin(thresholds)
        bucket = F.lit(self.labels[-1])
        for i in reversed(range(len(self.cuts))):
            bucket = F.when(s <= F.element_at(F.col("__cuts"), i + 1), F.lit(self.labels[i])).otherwise(bucket)
        bucket = F.when(s.isNotNull() & F.col("__cuts").isNotNull(), bucket)
        if REJECTION_DETAILS_COL in df.columns:
            bucket = F.when(F.col(REJECTION_DETAILS_COL).isNull(), bucket)
        return with_t.withColumn(self.out_col, bucket).drop("__cuts")
