"""Token-budget corpus selection — "take the best N tokens".

The standard final step of a curation run: rank documents by a quality
signal (classifier score, perplexity bucket, heuristic score) and keep
the best ones until a token budget is met — how fixed-size training
mixes are actually cut from a scored corpus. The reference has no such
operator (its filters are per-record thresholds); this is
beyond-reference per the build brief's training-data-pipeline mandate.

The naive formulation is a GLOBAL cumulative sum:
``sum(tokens) OVER (ORDER BY score DESC, id)`` — which in Spark is a
single-partition window: one task sorts and scans the whole corpus, the
canonical 100 TB scale-killer. This operator computes the IDENTICAL
selection in three scale-safe steps:

  1. quantize the score into fixed-width buckets (one min/max aggregate
     + a codegen'd ``floor``) — bucket id is monotonic in score, and
     equal scores always share a bucket, so (bucket DESC, score DESC,
     id) is exactly the global order;
  2. per-bucket token sums (ONE groupBy on a compact int key, map-side
     combined), cumulated driver-side over at most ``buckets`` rows to
     find the boundary bucket where the budget runs out;
  3. keep better-than-boundary buckets wholesale (a pushed-down filter —
     no shuffle, no sort), and resolve ONLY the boundary bucket with a
     cumulative window partitioned by that single bucket.

Step 3's window is the only sort, over ~1/buckets of the corpus; with
the default 8192 buckets a 100 TB corpus resolves the boundary over
~12 GB. Skewed score distributions (many docs sharing one exact score)
concentrate that bucket — documented; raise ``buckets`` or pre-jitter
the score's low bits if one bucket dominates.

Equivalence to the global cumsum is exact, not approximate, and the
test suite holds it to the DuckDB window formulation differentially
(tests/test_selection.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mega_data_factory_spark.operators.base import Operator

_B = "__tb_bucket"
_CUM = "__tb_cum"


class TokenBudgetSelector(Operator):
    """Keep the highest-``score_col`` documents whose running
    ``token_col`` total stays within ``budget_tokens``; ties broken by
    ascending ``id_col`` (deterministic, the engine-wide discipline). A
    document is kept iff the cumulative tokens of all strictly-better
    documents plus its own fit the budget (the prefix rule — the first
    document always fits if it alone is under budget).

    NULL scores rank LAST (the SQL ``ORDER BY score DESC NULLS LAST``
    order on both engines): unscored documents only enter after every
    scored one, via a dedicated below-all bucket. NULL token counts add
    nothing to the running sum (SUM semantics on both engines). A corpus
    whose scores are ALL null has no quality signal to bucket on and
    degenerates to the single-window form.

    Inside a tagged ``Pipeline`` (the ``_rejection_details`` column is
    present) the operator follows the engine's row-accounting contract
    instead of physically dropping rows: already-rejected rows are
    excluded from the budget AND left untouched, and over-budget
    documents are TAGGED (reason ``budget_exceeded``) so they flow to the
    rejected sink and the funnel metrics. Standalone (no tag column),
    cut rows are dropped. The tagged form costs one extra scan (the
    boundary bucket is resolved in a unioned branch)."""

    def __init__(
        self,
        budget_tokens: int,
        *,
        score_col: str = "quality_score",
        token_col: str = "n_tokens",
        id_col: str = "doc_id",
        buckets: int = 8192,
        score_bounds: tuple[float, float] | None = None,
        name: str | None = None,
    ):
        super().__init__(name)
        if budget_tokens <= 0:
            raise ValueError(f"budget_tokens must be > 0, got {budget_tokens}")
        if buckets < 1:
            raise ValueError(f"buckets must be >= 1, got {buckets}")
        if score_bounds is not None and not (score_bounds[0] <= score_bounds[1]):
            raise ValueError(f"score_bounds must be (lo, hi) with lo <= hi, got {score_bounds}")
        self.budget_tokens = int(budget_tokens)
        self.score_col = score_col
        self.token_col = token_col
        self.id_col = id_col
        self.buckets = int(buckets)
        # known score range (e.g. a classifier probability is [0, 1]):
        # skips the min/max scan, leaving exactly two passes over the
        # corpus (bucket sums + final filter). Scores outside the declared
        # bounds clamp into the edge buckets — order within a clamped edge
        # bucket is still exact (the boundary window sorts by true score).
        self.score_bounds = score_bounds

    def apply(self, df: DataFrame) -> DataFrame:
        from mega_data_factory_spark.operators.base import REJECTION_DETAILS_COL, rejection_details_sql

        tagged_mode = REJECTION_DETAILS_COL in df.columns
        alive = F.col(REJECTION_DETAILS_COL).isNull() if tagged_mode else F.lit(True)
        score = F.col(self.score_col).cast("double")
        toks = F.col(self.token_col).cast("long")
        if self.score_bounds is not None:
            lo, hi = float(self.score_bounds[0]), float(self.score_bounds[1])
        else:
            # min/max skip NULL scores; dead rows never shape the buckets
            lo, hi = df.filter(alive).select(F.min(score), F.max(score)).first()
        # monotonic fixed-width quantization; NULL scores -> bucket -1
        # (below every scored bucket = NULLS LAST); degenerate range -> 1
        # bucket; dead rows get a NULL bucket and are left untouched
        if lo is None:  # no alive scored rows at all
            scored_bucket = F.lit(-1)
        elif hi == lo:
            scored_bucket = F.lit(0)
        else:
            scored_bucket = F.greatest(
                F.least(
                    F.floor((score - F.lit(lo)) / F.lit((hi - lo) / self.buckets)).cast("int"),
                    F.lit(self.buckets - 1),
                ),
                F.lit(0),
            )
        bucket = F.when(alive & score.isNotNull(), scored_bucket).otherwise(
            F.when(alive, F.lit(-1))
        )
        work = df.withColumn(_B, bucket)
        per_bucket = {
            int(r[_B]): int(r["t"] or 0)
            for r in work.filter(alive).groupBy(_B).agg(F.sum(toks).alias("t")).collect()
        }
        # driver cumsum best-bucket-first: find the boundary bucket where
        # the budget runs out (<= `buckets` + 1 iterations)
        cum = 0
        boundary, before_boundary = None, 0
        for b in sorted(per_bucket, reverse=True):
            if cum + per_bucket[b] > self.budget_tokens:
                boundary, before_boundary = b, cum
                break
            cum += per_bucket[b]
        if boundary is None:  # everything alive fits
            return work.drop(_B)
        # resolve ONLY the boundary bucket: cumulative window over its rows
        w = (
            Window.partitionBy(_B)
            .orderBy(score.desc_nulls_last(), F.col(self.id_col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        rem = F.lit(self.budget_tokens - before_boundary)
        on_boundary = alive & (F.col(_B) == boundary)
        boundary_rows = (
            work.filter(on_boundary)
            .withColumn(_CUM, F.sum(toks).over(w))
            .withColumn("__tb_keep", F.coalesce(F.col(_CUM), rem) <= rem)
            .drop(_CUM)
        )
        other_rows = work.filter(~on_boundary | F.col(_B).isNull()).withColumn(
            "__tb_keep", F.col(_B) > boundary
        )
        merged = other_rows.unionByName(boundary_rows)
        if not tagged_mode:
            return merged.filter(F.col("__tb_keep")).drop(_B, "__tb_keep")
        # pipeline contract: tag over-budget rows instead of dropping them
        return merged.withColumn(
            REJECTION_DETAILS_COL,
            F.when(
                F.col(REJECTION_DETAILS_COL).isNull() & ~F.col("__tb_keep"),
                F.expr(rejection_details_sql("budget_exceeded", self.name)),
            ).otherwise(F.col(REJECTION_DETAILS_COL)),
        ).drop(_B, "__tb_keep")
