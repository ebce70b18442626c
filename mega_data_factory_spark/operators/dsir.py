"""DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
2023, public paper): pick raw-corpus documents whose hashed-n-gram
distribution looks like a trusted target corpus.

The published recipe, re-expressed Spark-first:

  1. **Features**: every document is a bag of unigrams + bigrams hashed
     into ``n_buckets`` slots (the paper uses 10k). Here the hash is the
     engine's md5-derived 60-bit integer (``functions/hashing``), so the
     whole feature pipeline is reproducible in ANSI SQL and the scorer is
     oracle-differential-tested like the perplexity scorer it sits beside
     (``operators/lm.py`` — same fit/score shape, different statistic).
  2. **Fit**: bucket counts over the target and raw corpora are one
     ``explode -> groupBy(bucket)`` each — map-side combined, ONE shuffle
     per corpus on a compact int key, and the result is at most
     ``n_buckets`` rows regardless of corpus size (the 100 TB fit
     collapses to a 10k-row table). Laplace ``add_k`` smoothing gives
     every bucket a finite log-ratio
     ``lr_b = ln((cp_b + k) / (Np + k*B)) - ln((cq_b + k) / (Nq + k*B))``
     (p = target, q = raw); buckets unseen in BOTH corpora share one
     constant default ratio.
  3. **Score**: a document's importance logweight is the sum of its
     features' log-ratios — features explode, broadcast-join the
     ≤``n_buckets``-row ratio table, and reduce back per doc (one compact
     shuffle on doc_id). ``dsir_logweight`` rounds to 6dp (the engine's
     cross-engine float discipline).
  4. **Resample** (:class:`DsirResampler`): the paper's Gumbel-top-k —
     select the ``n_select`` largest ``logweight + Gumbel noise``, which
     draws WITHOUT replacement proportionally to the importance weights.
     The noise is derived from the stable id hash (not ``rand()``), so
     selection is reproducible across runs/partitionings and mirrorable
     in SQL (the ``operators/sampling.py`` discipline). The exact global
     top-N cut reuses :class:`TokenBudgetSelector` with a 1-token-per-doc
     budget — its bucketed-histogram form, so no single-partition global
     sort at scale (``operators/selection.py``).

The fitted model is a numpy table (bucket ids + log-ratios, ≤ n_buckets
rows) — picklable and ``save``/``load``-able like ``BloomFilter``; YAML
pipelines construct the scorer with ``ratio_path=`` for train-once /
apply-later (the ``QualityClassifier`` posture).

The reference repo has no learned data-selection operator — this is
beyond-reference per the build brief's training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mega_data_factory_spark.functions.hashing import hash64_from_md5
from mega_data_factory_spark.functions.text import word_ngram_array
from mega_data_factory_spark.operators.base import Operator

ROUND_TO = 6
HASH_SEED = "dsir"
# Gumbel uniform: the 60-bit hash is cut to its top 52 bits so that
# (h52 + 0.5) / 2^52 is EXACT double arithmetic in every engine and
# strictly inside (0, 1). 52 bits, not 53: double spacing in
# [2^52, 2^53) is 1.0, so (2^53 - 1) + 0.5 rounds (ties-to-even) UP to
# 2^53 and u becomes exactly 1.0 — Spark's ln(-ln(1.0)) is NULL and
# DuckDB RAISES on ln(0). At 52 bits the +0.5 lands in [2^51, 2^52)
# spacing-0.5 territory and is exact for every hash value.
_UNIFORM_SHIFT = 8  # 60 - 52
_UNIFORM_SPACE = float(1 << 52)


class DsirImportanceScorer(Operator):
    """Fit hashed-n-gram bucket distributions on a target (trusted) and a
    raw corpus, then refine any corpus with ``dsir_logweight`` — the
    importance log-ratio of the two distributions summed over the
    document's features. Documents with no features (empty/NULL text) get
    a NULL logweight (no evidence either way; they rank last in the
    resampler, the NULLS LAST discipline).

    ``n_buckets`` is the hashed feature space (collisions are part of the
    method — the paper's 10k default keeps the model broadcastable
    anywhere); ``add_k`` the Laplace smoothing. ``bigrams=False`` drops
    the bigram features (unigram-only DSIR).
    """

    def __init__(
        self,
        *,
        n_buckets: int = 10_000,
        add_k: float = 1.0,
        text_col: str = "text",
        id_col: str = "doc_id",
        bigrams: bool = True,
        ratio_path: str | None = None,
        name: str | None = None,
    ):
        super().__init__(name)
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        if add_k <= 0:
            raise ValueError(f"add_k must be > 0, got {add_k}")
        self.n_buckets = int(n_buckets)
        self.add_k = float(add_k)
        self.text_col = text_col
        # id_col on the CONSTRUCTOR so the Pipeline/YAML path (which calls
        # bare apply(df)) can score corpora not keyed by "doc_id" — the
        # same surface every Deduplicator exposes
        self.id_col = id_col
        self.bigrams = bigrams
        self.ratio_path = ratio_path
        self._buckets = None  # numpy int64[<=n_buckets]
        self._ratios = None  # numpy float64, aligned with _buckets
        self._default_lr: float | None = None

    # ------------------------------------------------------------- features

    def _features(self, df: DataFrame, id_col: str | None = None) -> DataFrame:
        """One (doc id?, bucket) row per feature OCCURRENCE (counts are
        multiplicities, as in the paper). ONE definition for fit and
        score, so semantics cannot drift (the lm.py discipline)."""
        # the SHARED unigram(+bigram) definition (functions/text.py) —
        # identical to the QualityClassifier's feature space by construction
        feats = word_ngram_array(self.text_col, bigrams=self.bigrams)
        ids = [F.col(id_col).alias("__id")] if id_col else []
        keep = ["__id"] if id_col else []
        exploded = df.select(*ids, F.explode(feats).alias("__g"))
        return exploded.select(
            *keep,
            (hash64_from_md5("__g", seed=HASH_SEED) % self.n_buckets).alias("__bucket"),
        )

    # ------------------------------------------------------------------ fit

    def fit(self, target_df: DataFrame, raw_df: DataFrame) -> "DsirImportanceScorer":
        """Bucket-count both corpora and materialize the ≤n_buckets-row
        log-ratio table driver-side (bounded by B, never by corpus size)."""
        import numpy as np

        k, b = self.add_k, self.n_buckets
        counts = []
        totals = []
        for frame in (target_df, raw_df):
            rows = self._features(frame).groupBy("__bucket").agg(F.count(F.lit(1)).alias("c"))
            arr = np.zeros(b, dtype=np.int64)
            for r in rows.collect():
                arr[int(r["__bucket"])] = int(r["c"])
            counts.append(arr)
            totals.append(int(arr.sum()))
        cp, cq = counts
        np_, nq = totals
        lr = np.log((cp + k) / (np_ + k * b)) - np.log((cq + k) / (nq + k * b))
        self._default_lr = float(
            np.log(k / (np_ + k * b)) - np.log(k / (nq + k * b))
        )
        # store only buckets that differ from the default (seen somewhere):
        # the apply-side join stays sliver-sized on sparse corpora
        seen = (cp > 0) | (cq > 0)
        self._buckets = np.nonzero(seen)[0].astype(np.int64)
        self._ratios = lr[seen]
        return self

    # ----------------------------------------------------------- persistence

    def save(self, path: str) -> None:
        import numpy as np

        self._require_fitted()
        np.savez(
            path if path.endswith(".npz") else path + ".npz",
            buckets=self._buckets,
            ratios=self._ratios,
            meta=np.array(
                [self._default_lr, float(self.n_buckets), self.add_k, float(self.bigrams)]
            ),
        )

    def _require_fitted(self) -> None:
        if self._buckets is None:
            if self.ratio_path:
                import numpy as np

                p = self.ratio_path
                with np.load(p if p.endswith(".npz") else p + ".npz") as z:
                    self._buckets, self._ratios = z["buckets"], z["ratios"]
                    meta = z["meta"]
                self._default_lr = float(meta[0])
                if int(meta[1]) != self.n_buckets:
                    raise ValueError(
                        f"ratio table at {p} was fit with n_buckets={int(meta[1])}, "
                        f"scorer constructed with {self.n_buckets} — hashes won't align"
                    )
                # bigrams must match too: unigram-only features summed
                # against ratios fit on unigram+bigram counts mis-score
                # silently — the exact drift class the n_buckets guard
                # exists for
                if len(meta) > 3 and bool(meta[3]) != self.bigrams:
                    raise ValueError(
                        f"ratio table at {p} was fit with bigrams={bool(meta[3])}, "
                        f"scorer constructed with bigrams={self.bigrams} — "
                        "feature spaces won't align"
                    )
                return
            raise ValueError("call fit(target, raw) first, or construct with ratio_path=")

    # ---------------------------------------------------------------- score

    def _ratio_df(self, spark: SparkSession) -> DataFrame:
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame({"__bucket": self._buckets, "__lr": self._ratios}),
            "__bucket long, __lr double",
        )

    def apply(self, df: DataFrame, *, id_col: str | None = None) -> DataFrame:
        self._require_fitted()
        id_col = id_col or self.id_col
        feats = self._features(df, id_col=id_col)
        # the ratio table is ≤ n_buckets rows — always broadcastable
        scored = feats.join(F.broadcast(self._ratio_df(df.sparkSession)), on="__bucket", how="left")
        per_doc = scored.groupBy("__id").agg(
            F.round(F.sum(F.coalesce(F.col("__lr"), F.lit(self._default_lr))), ROUND_TO).alias(
                "dsir_logweight"
            )
        )
        return df.join(per_doc, df[id_col] == F.col("__id"), "left").drop("__id")


class DsirResampler(Operator):
    """Gumbel-top-k importance resampling over a ``dsir_logweight``
    column: keep the ``n_select`` documents with the largest
    ``logweight + g_i`` where ``g_i = -ln(-ln(u_i))`` and ``u_i`` is the
    document's STABLE id-hash uniform — sampling without replacement with
    probability proportional to ``exp(logweight)``, reproducible across
    runs, partitionings and engines (no ``rand()``).

    The exact global cut delegates to :class:`TokenBudgetSelector` with
    one token per document (budget = n_select): bucketed-histogram top-N,
    no single-partition sort, and inside a tagged ``Pipeline`` the cut
    rows are TAGGED (reason ``budget_exceeded``) rather than dropped —
    the engine's row-accounting contract, inherited for free.

    ``gumbel=False`` keeps the deterministic top-``n_select`` by raw
    logweight instead (the paper's "top-k heuristic" baseline).
    """

    def __init__(
        self,
        n_select: int,
        *,
        weight_col: str = "dsir_logweight",
        id_col: str = "doc_id",
        seed: str = "dsir-gumbel",
        gumbel: bool = True,
        buckets: int = 8192,
        name: str | None = None,
    ):
        super().__init__(name)
        if n_select < 1:
            raise ValueError(f"n_select must be >= 1, got {n_select}")
        self.n_select = int(n_select)
        self.weight_col = weight_col
        self.id_col = id_col
        self.seed = seed
        self.gumbel = gumbel
        self.buckets = buckets

    def _adjusted(self) -> Column:
        w = F.col(self.weight_col).cast("double")
        if not self.gumbel:
            return w
        h53 = F.shiftright(
            hash64_from_md5(self.id_col, seed=self.seed), _UNIFORM_SHIFT
        )
        u = (h53 + F.lit(0.5)) / F.lit(_UNIFORM_SPACE)
        return w + (-F.log(-F.log(u)))

    def apply(self, df: DataFrame) -> DataFrame:
        from mega_data_factory_spark.operators.selection import TokenBudgetSelector

        work = df.withColumn("__dsir_adj", self._adjusted()).withColumn("__dsir_one", F.lit(1))
        cut = TokenBudgetSelector(
            self.n_select,
            score_col="__dsir_adj",
            token_col="__dsir_one",
            id_col=self.id_col,
            buckets=self.buckets,
            name=self.name,  # budget_exceeded tags attribute to THIS operator
        ).apply(work)
        return cut.drop("__dsir_adj", "__dsir_one")
