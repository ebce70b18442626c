"""Deterministic sampling / dataset-split operators.

Training-data pipelines need REPRODUCIBLE selection: the same document must
land in the same split (or survive the same mixing ratio) on every run, on
any cluster, regardless of partitioning — which rules out ``df.sample()``
/ ``rand()`` (partition- and seed-layout-dependent). The standard trick is
a stable content/id hash compared against the ratio: pure Column
arithmetic, zero shuffle, and — because the hash here is the engine's
md5-derived 60-bit integer (``functions/hashing.hash64_from_md5``) — the
selection is reproducible in ANSI SQL, so both operators are
oracle-differential-tested (tests/test_curation.py).

Beyond the reference's surface — first-class per the build brief's
training-data-pipeline mandate. At 100 TB both operators are narrow maps
that fuse into the scan stage under whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mega_data_factory_spark.functions.hashing import hash64_from_md5, hash64_from_md5_sql
from mega_data_factory_spark.functions.text import sql_ident, sql_number_literal, sql_string_literal
from mega_data_factory_spark.operators.base import Filter, Operator, Refiner, rejection_details_sql

BUCKETS = 10_000


def stable_bucket_sql(col_sql: str, *, buckets: int = BUCKETS, salt: str | None = None) -> str:
    """Deterministic bucket in [0, buckets) from the md5-derived 60-bit hash
    of ``col_sql``'s string form. ``salt`` yields an independent assignment
    (e.g. a fresh split epoch) — mirrored in SQL by appending ``#salt``
    before hashing (the minhash seed convention)."""
    return f"({hash64_from_md5_sql(col_sql, seed=salt)} % {sql_number_literal(buckets)})"


def stable_bucket(col: str, *, buckets: int = BUCKETS, salt: str | None = None) -> Column:
    """Column form of :func:`stable_bucket_sql` over a named column."""
    return F.expr(stable_bucket_sql(sql_ident(col), buckets=buckets, salt=salt))


class DatasetSplitRefiner(Refiner):
    """Adds a ``split`` column ('train'/'val'/'test' by default) assigned by
    stable id hash: reproducible, partition-independent, join-free. Ratios
    are cumulative in declaration order; the last split absorbs rounding
    remainder (every bucket maps to exactly one split). NULL ids get a
    NULL split (they carry no stable identity — the previous fall-through
    silently piled them into the LAST declared split, contaminating the
    eval set).

    Default ``salt`` is "split" — DISTINCT from the sampler's "mix". With
    a shared salt (both used to default to None) the two operators'
    buckets are the SAME number, so sampling at weight w then splitting
    makes every survivor land in the first ceil(w * total)-bucket splits:
    a 0.3-weight source put 100% of survivors in train and left val/test
    empty. Pass explicit salts to intentionally correlate (or decorrelate
    epochs)."""

    def __init__(
        self,
        ratios: dict[str, float] | None = None,
        *,
        id_col: str = "doc_id",
        buckets: int = BUCKETS,
        salt: str | None = "split",
        name: str | None = None,
    ):
        super().__init__(name)
        self.ratios = dict(ratios or {"train": 0.9, "val": 0.05, "test": 0.05})
        total = sum(self.ratios.values())
        if not 0.999 <= total <= 1.001:
            raise ValueError(f"split ratios must sum to 1, got {total}")
        self.id_col = id_col
        self.buckets = buckets
        self.salt = salt

    def thresholds(self) -> list[tuple[str, int]]:
        """(split, exclusive upper bucket bound) in declaration order."""
        out, acc = [], 0.0
        names = list(self.ratios)
        for s in names[:-1]:
            acc += self.ratios[s]
            out.append((s, int(round(acc * self.buckets))))
        out.append((names[-1], self.buckets))  # absorbs rounding remainder
        return out

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        i = sql_ident(self.id_col)
        b = stable_bucket_sql(i, buckets=self.buckets, salt=self.salt)
        ths = self.thresholds()
        expr = sql_string_literal(ths[-1][0])
        for s, hi in reversed(ths[:-1]):
            expr = f"CASE WHEN ({b} < {sql_number_literal(hi)}) THEN {sql_string_literal(s)} ELSE {expr} END"
        return {"split": f"CASE WHEN ({i} IS NOT NULL) THEN {expr} END"}


class WeightedSourceSampler(Filter):
    """Per-source deterministic downsampling — the dataset-MIXING knob
    (e.g. keep 100% of books, 30% of common-crawl): a row survives iff its
    stable id bucket falls below ``weight[source] * buckets``. Unlisted
    sources keep ``default_weight``. Reproducible across runs and engines;
    rejection accounting flows through the normal Filter tagging. NULL ids
    are rejected (no stable identity -> NULL bucket -> keep_sql coalesces to
    False). Default ``salt`` "mix" is DISTINCT from the split refiner's
    "split" — see DatasetSplitRefiner on why a shared salt corrupts
    composed sample+split flows."""

    def __init__(
        self,
        weights: dict[str, float],
        *,
        default_weight: float = 1.0,
        source_col: str = "source",
        id_col: str = "doc_id",
        buckets: int = BUCKETS,
        salt: str | None = "mix",
        name: str | None = None,
    ):
        super().__init__(name)
        for s, w in {**weights, "__default__": default_weight}.items():
            if not 0.0 <= w <= 1.0:
                raise ValueError(f"sampling weight for {s!r} must be in [0, 1], got {w}")
        self.weights = dict(weights)
        self.default_weight = default_weight
        self.source_col = source_col
        self.id_col = id_col
        self.buckets = buckets
        self.salt = salt

    def predicate_sql(self, df: DataFrame) -> str:
        b = stable_bucket_sql(sql_ident(self.id_col), buckets=self.buckets, salt=self.salt)
        src = sql_ident(self.source_col)
        thr = sql_number_literal(int(round(self.default_weight * self.buckets)))
        for s, w in self.weights.items():
            hi = sql_number_literal(int(round(w * self.buckets)))
            thr = f"CASE WHEN ({src} = {sql_string_literal(s)}) THEN {hi} ELSE {thr} END"
        return f"({b} < {thr})"


class StratifiedQuotaSampler(Operator):
    """Keep EXACTLY ``min(quota, stratum size)`` rows per stratum — the
    count-based balancing knob the fraction-based
    :class:`WeightedSourceSampler` cannot express ("1M docs per language"
    needs the per-stratum sizes to turn into a fraction, and the fraction
    drifts as the corpus grows). Selection within a stratum is the quota
    rows with the SMALLEST (stable id hash, id) — deterministic across
    runs, engines, and partitionings, and mirrorable in ANSI SQL as
    ``row_number() OVER (PARTITION BY stratum ORDER BY h, id) <= quota``.

    The naive form IS that window: a full shuffle of every quoted stratum
    plus a per-stratum sort — with a 10^10-row crawl stratum, the 100 TB
    scale-killer. This computes the identical cut with the
    TokenBudgetSelector's histogram discipline (selection.py):

      1. range-bucket the 60-bit hash (top ``log2(hist_buckets)`` bits —
         bucket id is monotonic in h, equal h always shares a bucket);
      2. count rows per (stratum, bucket) — ONE compact groupBy, at most
         ``len(quotas) x hist_buckets`` rows to the driver;
      3. per stratum, cumulate bucket counts ascending to find the
         boundary bucket where the quota lands: smaller buckets keep
         wholesale (pushed-down filter, no shuffle), larger drop
         wholesale, and ONLY the boundary bucket — ~1/hist_buckets of the
         stratum — pays a row_number window.

    Strata without a quota (and all strata, when ``default_quota`` is
    None) pass through untouched. With ``default_quota`` set, EVERY
    stratum participates — the driver then holds #distinct-strata x
    hist_buckets count rows, so per-domain strata on an open crawl want
    the explicit-quotas form. NULL ids carry no stable identity and are
    never selected into a quota (the sampler-family rule); a NULL stratum
    is a real stratum (NUL-distinct, matched null-safely). Pipeline path:
    over-quota rows are tagged ``quota_exceeded`` instead of dropped.
    """

    def __init__(
        self,
        quotas: dict[str, int],
        *,
        default_quota: int | None = None,
        stratum_col: str = "source",
        id_col: str = "doc_id",
        hist_buckets: int = 8192,
        salt: str | None = "quota",
        name: str | None = None,
    ):
        super().__init__(name)
        for s, q in {**quotas, **({"__default__": default_quota} if default_quota is not None else {})}.items():
            if q < 0:
                raise ValueError(f"quota for {s!r} must be >= 0, got {q}")
        if hist_buckets < 2 or hist_buckets & (hist_buckets - 1):
            raise ValueError(f"hist_buckets must be a power of two >= 2, got {hist_buckets}")
        self.quotas = dict(quotas)
        self.default_quota = default_quota
        self.stratum_col = stratum_col
        self.id_col = id_col
        self.hist_buckets = hist_buckets
        self.salt = salt

    def _hash(self) -> Column:
        return hash64_from_md5(self.id_col, seed=self.salt)

    def _hist_bucket(self) -> Column:
        # top bits of the 60-bit hash: monotonic range buckets
        return F.shiftright(self._hash(), 60 - self.hist_buckets.bit_length() + 1)

    def _quota_col(self) -> Column:
        q = F.lit(self.default_quota).cast("long")
        for s, n in self.quotas.items():
            q = F.when(F.col(self.stratum_col) == s, F.lit(int(n))).otherwise(q)
        return q

    def apply(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        from mega_data_factory_spark.operators.base import REJECTION_DETAILS_COL

        tagged_mode = REJECTION_DETAILS_COL in df.columns
        alive = F.col(REJECTION_DETAILS_COL).isNull() if tagged_mode else F.lit(True)
        quota = self._quota_col()
        limited = alive & quota.isNotNull()
        hb = self._hist_bucket()
        work = df.withColumn("__sq_hb", F.when(limited, hb))

        counted = (
            work.filter(limited & F.col(self.id_col).isNotNull())
            .groupBy(F.col(self.stratum_col).alias("__s"), F.col("__sq_hb").alias("__b"))
            .count()
            .collect()
        )
        hist: dict = {}
        for r in counted:
            hist.setdefault(r["__s"], {})[int(r["__b"])] = int(r["count"])

        def _quota_of(s):
            return self.quotas.get(s, self.default_quota) if s is not None else self.default_quota

        # per stratum: (boundary bucket, rows remaining inside it); strata
        # that fit entirely get no entry (kept wholesale)
        boundaries: dict = {}
        for s, bs in hist.items():
            q, cum = int(_quota_of(s)), 0
            for b in sorted(bs):
                if cum + bs[b] > q:
                    boundaries[s] = (b, q - cum)
                    break
                cum += bs[b]

        def _match(s) -> Column:
            return (
                F.col(self.stratum_col).isNull()
                if s is None
                else F.col(self.stratum_col).eqNullSafe(F.lit(s))
            )

        bound_b = F.lit(None).cast("long")
        rem = F.lit(None).cast("long")
        for s, (b, r) in boundaries.items():
            bound_b = F.when(_match(s), F.lit(b)).otherwise(bound_b)
            rem = F.when(_match(s), F.lit(r)).otherwise(rem)
        work = work.withColumn("__sq_bound", F.when(limited, bound_b)).withColumn(
            "__sq_rem", F.when(limited, rem)
        )

        # coalesce kills three-valued logic: a stratum that fits wholesale
        # has a NULL boundary, and `hb == NULL` is NULL, not False — an
        # uncoalesced ~on_boundary filter silently dropped such strata
        on_boundary = (
            limited
            & F.coalesce(F.col("__sq_hb") == F.col("__sq_bound"), F.lit(False))
            & F.col(self.id_col).isNotNull()
        )
        w = (
            Window.partitionBy(F.col(self.stratum_col))
            .orderBy(self._hash().asc(), F.col(self.id_col).asc())
        )
        boundary_rows = work.filter(on_boundary).withColumn(
            "__sq_keep", F.row_number().over(w) <= F.col("__sq_rem")
        )
        other_rows = work.filter(~on_boundary).withColumn(
            "__sq_keep",
            F.when(~limited, F.lit(True))  # unquoted or dead: untouched
            .when(F.col(self.id_col).isNull(), F.lit(False))  # no stable identity
            .when(F.col("__sq_bound").isNull(), F.lit(True))  # stratum fits whole
            .otherwise(F.col("__sq_hb") < F.col("__sq_bound")),
        )
        merged = other_rows.unionByName(boundary_rows)
        aux = ["__sq_hb", "__sq_bound", "__sq_rem", "__sq_keep"]
        if not tagged_mode:
            return merged.filter(F.col("__sq_keep")).drop(*aux)
        return merged.withColumn(
            REJECTION_DETAILS_COL,
            F.when(
                F.col(REJECTION_DETAILS_COL).isNull() & ~F.col("__sq_keep"),
                F.expr(rejection_details_sql("quota_exceeded", self.name)),
            ).otherwise(F.col(REJECTION_DETAILS_COL)),
        ).drop(*aux)


def temperature_weights(
    sizes: dict[str, float], alpha: float, *, target_total: float | None = None
) -> dict[str, float]:
    """Per-source epoch weights from corpus sizes under temperature
    sampling: the sampled-token share of source *i* is proportional to
    ``size_i ** alpha`` (alpha=1 -> natural proportions, alpha=0 ->
    uniform across sources; GPT-3/XLM-R use alpha in [0.2, 0.7] to lift
    low-resource sources without letting a giant crawl dominate).

    Returns ``weights`` suitable for :class:`EpochWeightedMixer`:
    ``weight_i * size_i`` (the expected output rows from source *i*) sums
    to ``target_total`` (default: the input total, i.e. a pure re-mix at
    constant corpus size). Pure driver-side arithmetic.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if not sizes or any(n <= 0 for n in sizes.values()):
        raise ValueError("sizes must be a non-empty map of positive counts")
    total = float(sum(sizes.values()))
    t = float(target_total) if target_total is not None else total
    q_norm = sum(n**alpha for n in sizes.values())
    return {s: (n**alpha / q_norm) * t / n for s, n in sizes.items()}


class EpochWeightedMixer(Operator):
    """Epoch-weighted dataset mixing WITH upsampling — the training-mix
    knob the downsampling-only :class:`WeightedSourceSampler` cannot
    express: a source weighted ``w`` contributes ``floor(w)`` full epochs
    of itself plus a deterministic ``frac(w)`` partial epoch (e.g. the
    Llama-1 recipe runs Wikipedia at 2.45 epochs while CommonCrawl runs
    at 0.67). Output rows carry an ``epoch`` int column (0-based copy
    index) so downstream shuffles/packing can decorrelate repeats.

    Determinism contract matches the sampler: the partial epoch keeps a
    row iff its stable md5-derived id bucket falls below
    ``frac(w) * buckets`` — reproducible across runs, engines, and
    partitionings, and mirrorable in ANSI SQL (``conv(substr(md5(id ||
    '#salt'),1,15),16,10) % buckets``; the repeat fan-out is a lateral
    ``range(n)``). NULL ids carry no stable identity and are dropped
    (standalone) or tagged rejected (pipeline path), never silently kept.

    Scale shape: repeats are a codegen'd when-chain plus one
    ``explode(sequence(...))`` — a narrow map that fuses into the scan
    stage; no shuffle, no join against a weights table (the weights map is
    a literal expression, the same way the sampler inlines thresholds).
    Row COUNT multiplies by at most ``ceil(max weight)``; at 100 TB you
    upsample the small curated sources (weights > 1 on the tail, < 1 on
    the crawl head), so output volume stays ~input volume — the helper
    :func:`temperature_weights` computes exactly that constant-volume mix.

    Pipeline path (tag column present): already-rejected rows pass through
    as exactly one copy with a NULL epoch; alive rows with 0 repeats are
    kept as one copy tagged ``sampled_out`` (rejection accounting intact);
    alive rows with n >= 1 repeats explode to n tagged-alive copies.
    """

    def __init__(
        self,
        weights: dict[str, float],
        *,
        default_weight: float = 1.0,
        source_col: str = "source",
        id_col: str = "doc_id",
        buckets: int = BUCKETS,
        salt: str | None = "epoch",
        epoch_col: str = "epoch",
        unique_id_col: str | None = None,
        name: str | None = None,
    ):
        super().__init__(name)
        for s, w in {**weights, "__default__": default_weight}.items():
            # the cap is a fat-finger guard (a weight of 1000 is a config
            # bug, not a mix), mirroring the sampler's [0, 1] validation
            if not 0.0 <= w <= 100.0:
                raise ValueError(f"epoch weight for {s!r} must be in [0, 100], got {w}")
        self.weights = dict(weights)
        self.default_weight = default_weight
        self.source_col = source_col
        self.id_col = id_col
        self.buckets = buckets
        self.salt = salt
        self.epoch_col = epoch_col
        # After upsampling, id_col is NO LONGER UNIQUE (each epoch repeats
        # it) — anything downstream that orders or dedups by id (sequence
        # packing's window, first-wins dedup, the split refiner) would see
        # ties and lose determinism, or collapse the repeats right back
        # out. unique_id_col emits "id\x1fepoch" (epoch 0 keeps the bare id
        # string, so a weight<=1 mix is id-stable) for downstream stages
        # to key on.
        self.unique_id_col = unique_id_col

    def _split_weight(self, w: float) -> tuple[int, int]:
        """(full epochs, partial-epoch bucket threshold)."""
        base = int(w)
        return base, int(round((w - base) * self.buckets))

    def repeats(self, df: DataFrame) -> Column:
        """Deterministic per-row copy count (0 = drop). NULL id -> 0."""
        b = stable_bucket(self.id_col, buckets=self.buckets, salt=self.salt)
        base_d, thr_d = self._split_weight(self.default_weight)
        n = F.lit(base_d) + F.when(b < thr_d, 1).otherwise(0)
        for s, w in self.weights.items():
            base, thr = self._split_weight(w)
            n = F.when(
                F.col(self.source_col) == s, F.lit(base) + F.when(b < thr, 1).otherwise(0)
            ).otherwise(n)
        return F.when(F.col(self.id_col).isNotNull(), n).otherwise(F.lit(0))

    def _exploded(self, df: DataFrame, n: Column) -> DataFrame:
        # sequence(0, n-1) with n == 0 would DESCEND to [0, -1] (Spark's
        # sequence auto-steps downward) — an empty array is required so
        # explode drops the row instead of fabricating two phantom epochs
        seq = F.when(n > 0, F.sequence(F.lit(0), n - F.lit(1))).otherwise(
            F.array().cast("array<int>")
        )
        return df.withColumn(self.epoch_col, F.explode(seq))

    def _with_unique_id(self, df: DataFrame) -> DataFrame:
        if not self.unique_id_col:
            return df
        e = F.col(self.epoch_col)
        # unit-separator, not "#": an id that itself contains "#" (e.g.
        # literal "5#1") would collide with another row's synthesized uid;
        # \x1f is the engine's established composite-key separator
        # (KeyDeduplicator) and cannot appear in the epoch digits
        uid = F.when(
            e.isNull() | (e == 0), F.col(self.id_col).cast("string")
        ).otherwise(F.concat(F.col(self.id_col).cast("string"), F.lit("\x1f"), e.cast("string")))
        return df.withColumn(self.unique_id_col, uid)

    def apply(self, df: DataFrame) -> DataFrame:
        from mega_data_factory_spark.operators.base import REJECTION_DETAILS_COL

        n = self.repeats(df)
        if REJECTION_DETAILS_COL not in df.columns:
            return self._with_unique_id(self._exploded(df, n))
        # pipeline path: preserve one copy of every non-exploding row so
        # rejection accounting and the rejected sink still see it
        alive = F.col(REJECTION_DETAILS_COL).isNull()
        df = df.withColumn(
            REJECTION_DETAILS_COL,
            F.when(alive & (n == 0), F.expr(rejection_details_sql("sampled_out", self.name))).otherwise(
                F.col(REJECTION_DETAILS_COL)
            ),
        )
        eff = F.when(F.col(REJECTION_DETAILS_COL).isNull(), n).otherwise(F.lit(1))
        out = self._exploded(df, eff)
        out = out.withColumn(
            self.epoch_col,
            F.when(F.col(REJECTION_DETAILS_COL).isNull(), F.col(self.epoch_col)),
        )
        return self._with_unique_id(out)
