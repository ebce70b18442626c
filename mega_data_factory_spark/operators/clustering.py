"""Clustering-backed operators: semantic dedup and IVF approximate
nearest-neighbor search.

The reference designed (but never wired) semantic dedup: k-means cluster id
as the dedup bucket, with a hand-rolled distributed Lloyd's loop
(models/kmeans/distributed_trainer.py:19-547, backend.py:89-93,
operator.py:278-282). Under Spark the training loop IS
``pyspark.ml.clustering.KMeans`` — per-shard assignment + driver-side
centroid merge is exactly what it implements — and the "cluster bucket"
becomes a column that partitions downstream dedup/search.

IVF search = the same index: route a query to its ``nprobe`` nearest
centroids, search only those clusters. At 100 TB the cluster id is the
shuffle/bucketing key, collapsing candidate sets by ~k/nprobe; centroids
(k x dim floats) always fit in a broadcast.

These operators are NOT SQL-oracle-checkable (iterative training); the
driver records rows-only checks and the test suite validates structure +
recall against the exact brute-force baseline.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it in globals
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mega_data_factory_spark.functions.vectors import cosine_similarity
from mega_data_factory_spark.operators.base import (
    JoinDeduplicator,
    anti_join_once,
    rejection_details_sql,
)
from mega_data_factory_spark.session import local_frame


class KMeansIndex:
    """Fit once, reuse for assignment / semantic dedup / IVF search."""

    def __init__(
        self,
        k: int | None = 10,
        *,
        cell_target_rows: int = 4096,
        vec_col: str = "embedding",
        seed: int = 42,
        max_iter: int = 20,
        fit_sample_rows: int | None = 1_000_000,
        train_points_per_centroid: int | None = 256,
        normalize: bool = False,
        init_mode: str = "k-means||",
    ):
        # k=None -> auto-scale at fit time: ceil(n / cell_target_rows).
        # Every consumer of the index does per-cell work that is super-
        # linear in cell size (semantic dedup: O(n_c^2) flops; IVF search:
        # candidate scan ~ nprobe * n/k), so a FIXED k degrades as the
        # corpus grows (measured 14x / 4x wall at 100x data with k=8);
        # scaling k keeps expected cell rows ~cell_target_rows and per-cell
        # cost ~constant — the FAISS sqrt(n)-to-n/const nlist discipline.
        self.k = k
        self.cell_target_rows = cell_target_rows
        self.vec_col = vec_col
        self.seed = seed
        self.max_iter = max_iter
        # Centroid training runs on a bounded sample (the FAISS/IVF training
        # discipline): k centroids need ~train_points_per_centroid
        # representative points EACH (FAISS defaults ~256/centroid, warns
        # under ~39), not the corpus — at 100 TB nobody runs 20 full-data
        # Lloyd passes. Without the per-centroid bound, auto-scaled k makes
        # the fit itself the scale-killer: Lloyd cost is O(sample_n * k), so
        # fitting the FULL corpus with k ~ n/cell_target is O(n^2) total
        # (measured: ivf fit at 100x data went 2.5s -> 23s before this
        # bound). Assignment (the part that must see every row) stays
        # full-data. fit_sample_rows=None AND train_points_per_centroid=None
        # = always fit on the full input.
        self.fit_sample_rows = fit_sample_rows
        self.train_points_per_centroid = train_points_per_centroid
        # normalize=True = spherical k-means: vectors are L2-normalized for
        # TRAINING (inside fit, AFTER sampling — the interpreted normalize
        # fold then touches only the bounded sample, never the full corpus)
        # and for ml-path assignment. assign_multi normalizes in numpy.
        self.normalize = normalize
        # "random" init for bucketing uses: kmeans|| costs ~5 extra passes
        # for an init-quality edge that bucketing (stable cells, not
        # converged centroids) does not need (measured 4.6s -> 1.8s on a
        # 12.5k x 49 fit).
        self.init_mode = init_mode
        self._model = None
        self._single_center: list[float] | None = None  # trivial 1-cell mode
        self.k_fitted: int | None = k  # resolved at fit() when k=None

    def _feature_expr(self):
        from pyspark.ml.functions import array_to_vector

        vec = F.col(self.vec_col)
        if self.normalize:
            from mega_data_factory_spark.functions.vectors import l2_normalize

            vec = l2_normalize(vec)
        return array_to_vector(vec.cast("array<double>")).alias("features")

    def fit(self, df: DataFrame) -> KMeansIndex:
        import math

        from pyspark.ml.clustering import KMeans

        # Sample the RAW rows first, project features after: the per-row
        # feature expression (normalize fold + ml-vector conversion) then
        # evaluates on the bounded sample only. Sampling the projected frame
        # instead measured 6.9s vs 2.1s at the 100x dir — Catalyst keeps a
        # Project below Sample, so the projection would run corpus-wide.
        src = df
        cap = self.fit_sample_rows
        if self.k is None or cap is not None or self.train_points_per_centroid is not None:
            n = df.count()
            if self.k is None:
                self.k_fitted = max(2, math.ceil(n / self.cell_target_rows))
            if self.train_points_per_centroid is not None:
                # per-centroid training budget, floored so tiny k still sees
                # a representative sample
                per_k = max(4096, self.k_fitted * self.train_points_per_centroid)
                cap = per_k if cap is None else min(cap, per_k)
            if cap is not None and n > cap:
                # slight over-sample then exact cap keeps the bound hard;
                # seeded -> deterministic across runs. The GlobalLimit
                # collapses the sample to ONE partition — repartition after
                # it or every Lloyd/init job runs single-task.
                frac = min(1.0, 1.1 * cap / n)
                par = df.sparkSession.sparkContext.defaultParallelism
                src = (
                    df.sample(fraction=frac, seed=self.seed)
                    .limit(cap)
                    .repartition(min(par, max(1, cap // 256)))
                )
        feats = src.select(self._feature_expr())
        # KMeans re-evaluates its input every Lloyd iteration (plus the
        # kmeans|| init passes) and pyspark.ml does NOT cache it for you —
        # with any nontrivial upstream lineage (union + normalize here) that
        # recompute dominates training (measured 31.9s -> 5.5s on a 20k x 64
        # corpus by persisting). Cache for the fit, release immediately.
        feats = feats.persist()
        try:
            feats.count()  # materialize before the iterative job storm

            def _fit(k):
                from mega_data_factory_spark.operators.mlfit import strip_training_summary

                # The retained KMeans training summary holds the
                # SparkSession; stripped so `transform` closures stay
                # serializable after any Observation completes (same
                # failure mode as the classifier — see mlfit.py).
                return strip_training_summary(
                    KMeans(
                        k=k, seed=self.seed, maxIter=self.max_iter, initMode=self.init_mode
                    ).fit(feats)
                )

            try:
                self._model = _fit(self.k_fitted)
            except Exception as exc:  # noqa: BLE001 - py4j wraps the JVM error
                # Spark ml KMeans random-init throws AIOOBE when k exceeds
                # the number of DISTINCT training points (e.g. a small
                # cluster of identical vectors). Clamp-and-retry only on
                # that signature — the distinct count is an extra job, so
                # the happy path never pays it.
                if "ArrayIndexOutOfBounds" not in str(exc):
                    raise
                n_distinct = feats.distinct().count()
                k_eff = min(self.k_fitted, n_distinct)
                if k_eff == self.k_fitted:
                    raise
                import warnings

                warnings.warn(
                    f"KMeansIndex: k={self.k_fitted} exceeds {n_distinct} distinct "
                    f"training points; clamped to k={max(k_eff, 1)}",
                    stacklevel=2,
                )
                if k_eff < 2:
                    # ONE distinct point: ml KMeans cannot represent k=1 —
                    # trivial single-cell index (every row -> cluster 0)
                    self.k_fitted = 1
                    self._single_center = [float(x) for x in feats.first()["features"]]
                else:
                    self.k_fitted = k_eff
                    self._model = _fit(k_eff)
        finally:
            feats.unpersist()
        return self

    def _centers(self) -> list[list[float]]:
        assert self._model is not None or self._single_center is not None, "call fit() first"
        if self._single_center is not None:
            return [self._single_center]
        return [[float(x) for x in c] for c in self._model.clusterCenters()]

    def assign(self, df: DataFrame, *, cluster_col: str = "cluster") -> DataFrame:
        """Adds the cluster-id column (the reference's bucket_id_getter)."""
        assert self._model is not None or self._single_center is not None, "call fit() first"
        if self._single_center is not None:  # trivial 1-cell index
            return df.withColumn(cluster_col, F.lit(0))
        feats = df.withColumn("features", self._feature_expr())
        out = self._model.transform(feats).withColumnRenamed("prediction", cluster_col)
        return out.drop("features")

    def assign_multi(
        self, df: DataFrame, *, probes: int = 2, cluster_col: str = "cluster", input_col: str | None = None
    ) -> DataFrame:
        """Multi-probe assignment: each row lands in its ``probes`` nearest
        cells by cosine (one output row per probe — the reference's
        cluster-bucket design, backend.py:89-93, widened the way IVF
        multi-probe widens search). Boundary-straddling near-dup pairs get
        a shared cell whenever their top-``probes`` sets intersect —
        recovered at ~probes x the per-cell compute.

        Scale shape: the (k x dim) centroid matrix is broadcast once; each
        Arrow batch ranks cells with ONE numpy matmul (no k x n expression
        join, no shuffle); the explode multiplies rows by ``probes`` before
        the existing groupBy(cluster) shuffle. Rows AND centroids are
        unit-normalized inside the kernel, so ``input_col`` may carry RAW
        vectors even when the index was fitted on normalized ones (cosine
        ranking is normalization-invariant) — that skips the interpreted
        per-row normalize fold on the full corpus, which dominated the
        100x-scale wall before this path existed."""
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        cents = np.array(self._centers(), dtype=np.float64)
        norms = np.linalg.norm(cents, axis=1)
        norms[norms == 0] = 1.0
        cents = cents / norms[:, None]
        p = min(probes, len(cents))
        bc = df.sparkSession.sparkContext.broadcast(cents)

        @pandas_udf("array<int>")
        def top_cells(vs: pd.Series) -> pd.Series:
            c = bc.value
            m = np.array(list(vs), dtype=np.float64)
            n = np.linalg.norm(m, axis=1, keepdims=True)
            n[n == 0] = 1.0
            sims = (m / n) @ c.T
            top = np.argsort(-sims, axis=1)[:, :p].astype("int32")
            return pd.Series(list(top))

        return df.withColumn(cluster_col, F.explode(top_cells(F.col(input_col or self.vec_col))))

    def centroids(self, spark) -> DataFrame:
        """(cluster, centroid array<double>) — always broadcast-sized."""
        rows = [(i, c) for i, c in enumerate(self._centers())]
        return spark.createDataFrame(rows, "cluster int, centroid array<double>")

    def ivf_topk(self, df: DataFrame, query: DataFrame, *, k: int = 10, nprobe: int = 3) -> DataFrame:
        """IVF ANN: query (one row, ``qv array<float>``) is routed to its
        ``nprobe`` nearest centroids by cosine; brute-force top-k runs only
        inside those clusters. Returns (id-ish columns of df, cluster,
        cosine)."""
        spark = df.sparkSession
        cents = self.centroids(spark)
        probe = (
            cents.crossJoin(F.broadcast(query))
            .withColumn("__sim", cosine_similarity("centroid", "qv"))
            .orderBy(F.col("__sim").desc())
            .limit(nprobe)
            .select("cluster")
        )
        assigned = self.assign(df)
        candidates = assigned.join(F.broadcast(probe), on="cluster")
        # vectorized scoring of the candidate set (one numpy matmul per
        # Arrow batch — same tier as BruteForceKNN's default path)
        from mega_data_factory_spark.functions.vectors import cosine_to_query_udf

        cos = cosine_to_query_udf(query.first()["qv"], round_to=6)
        scored = candidates.withColumn("cosine", cos(F.col(self.vec_col))).filter(
            F.col("cosine").isNotNull()
        )
        return scored.drop(self.vec_col).orderBy(F.col("cosine").desc()).limit(k)

    def semantic_dedup(self, df: DataFrame, *, id_col: str = "vec_id", threshold: float = 0.95, name: str = "SemanticDeduplicator") -> tuple[DataFrame, DataFrame]:
        """Cluster-partitioned cosine near-dedup: pairs are only compared
        WITHIN a cluster (the reference's cluster-bucketed dedup design) —
        the O(n^2) blowup becomes per-cluster O(sum n_c^2). First-seen
        (min id) wins. Returns (survivors, rejected-with-details).

        Note: near-dups straddling a cluster boundary are missed — the
        recall/cost dial every embedding-dedup system at scale exposes
        (``SemanticDeduplicator(probes=2)`` / ``assign_multi`` recovers
        them at ~2x cost).
        """
        assigned = self.assign(df)
        a = assigned.select(F.col("cluster"), F.col(id_col).alias("__ida"), F.col(self.vec_col).alias("__va"))
        b = assigned.select(F.col("cluster"), F.col(id_col).alias("__idb"), F.col(self.vec_col).alias("__vb"))
        pairs = (
            a.join(b, on="cluster")
            .filter(F.col("__ida") < F.col("__idb"))
            .withColumn("__cos", F.round(cosine_similarity("__va", "__vb"), 6))
            .filter(F.col("__cos") >= threshold)
            .groupBy(F.col("__idb").alias(id_col))
            .agg(F.min("__ida").alias("__rep"))
        )
        survivors = anti_join_once(df, pairs, id_col)
        rejected = (
            df.join(pairs, on=id_col)
            .withColumn(
                "_rejection_details",
                F.expr(rejection_details_sql("duplicate", name, representative_id="cast(__rep as string)")),
            )
            .drop("__rep")
        )
        return survivors, rejected


class SemanticDeduplicator(JoinDeduplicator):
    """Semantic dedup as a FIRST-CLASS pipeline operator — the reference
    designed this (cluster id as dedup bucket, backend.py:89-93,
    operator.py:278-282; hand-rolled distributed k-means
    models/kmeans/distributed_trainer.py) but never wired it into a
    pipeline. Here: Spark ML k-means assigns a cluster per embedding, then
    each cluster deduplicates independently inside ``applyInPandas`` with
    one vectorized all-pairs cosine matmul per cluster (earliest id wins).

    Scale shape: the only shuffle is groupBy(cluster); per-cluster work is
    O(n_c^2) vectorized flops with n_c bounded by k — the knob that turns
    the global O(n^2) into something tractable. Boundary-straddling
    near-dups are the recall cost; ``probes=2`` assigns each vector to its
    two nearest cells (``KMeansIndex.assign_multi``) so one-boundary
    straddlers are still compared, at ~2x the per-cell compute. Fitting
    k-means triggers Spark jobs at plan-build time (pyspark.ml is eager) —
    the one operator with build-time actions.
    """

    def __init__(
        self,
        threshold: float = 0.95,
        *,
        k: int | None = 8,
        cell_target_rows: int = 4096,
        probes: int = 1,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        max_iter: int = 10,
        name: str | None = None,
    ):
        super().__init__(name, order_col=id_col, id_col=id_col)
        self.threshold = threshold
        # k=None -> auto-scale: ceil(n / cell_target_rows). Per-cell work is
        # O(n_c^2) flops, so a FIXED k degrades quadratically as the corpus
        # grows (measured 14x wall at 100x data with k=8); scaling k keeps
        # expected cell rows ~cell_target_rows and per-cell cost ~constant,
        # trading recall only at the extra cell boundaries.
        self.k = k
        self.cell_target_rows = cell_target_rows
        # probes > 1 = multi-probe assignment (KMeansIndex.assign_multi):
        # each vector joins its `probes` nearest cells, so a near-dup pair
        # straddling one cell boundary is still compared — the boundary-
        # recall recovery, at ~probes x the per-cell compute.
        self.probes = probes
        self.vec_col = vec_col
        self.seed = seed
        # bucketing needs stable cells, not converged centroids: half the
        # default Lloyd budget halves the eager fit's job storm; recall for
        # cosine-identical dups is unaffected (identical vectors share a
        # cell at ANY centroid state)
        self.max_iter = max_iter


    def _dup_pairs(self, df: DataFrame) -> DataFrame:
        import numpy as np

        from mega_data_factory_spark.functions.vectors import l2_norm

        # NULL / zero-norm vectors carry no cosine signal and crash the
        # ml fit (JVM NPE) or the numpy assignment (None in np.array) —
        # exclude them up front; such rows simply survive, the same
        # contract as EmbeddingCosineDeduplicator's filter.
        df = df.filter(F.col(self.vec_col).isNotNull() & (l2_norm(self.vec_col) > 0))
        if not df.take(1):  # nothing comparable: no pairs, no k-means fit
            id_dt = df.schema[self.id_col].dataType.simpleString()
            return local_frame(df.sparkSession, [], f"{self.id_col} {id_dt}, __rep {id_dt}")
        # Cluster on UNIT vectors (spherical k-means): cosine-identical
        # vectors (e.g. a scaled copy) must land in the same cell, which
        # euclidean k-means on raw magnitudes does not guarantee.
        # normalize=True applies the (interpreted) normalize fold inside
        # fit() AFTER sampling — only the bounded training sample pays it;
        # k=None also resolves inside fit() (one count, shared with the
        # sample bound); random init because bucketing needs stable cells,
        # not kmeans||-grade convergence.
        idx = KMeansIndex(
            k=self.k,
            cell_target_rows=self.cell_target_rows,
            vec_col=self.vec_col,
            normalize=True,
            init_mode="random",
            seed=self.seed,
            max_iter=self.max_iter,
        ).fit(df)
        # Assignment runs on the RAW vectors through the broadcast-matmul
        # kernel (assign_multi normalizes rows AND centroids in numpy;
        # cosine ranking is normalization-invariant) — one Arrow crossing,
        # zero interpreted per-row folds on the full corpus, which were
        # measured as this operator's dominant cost at the 100x scale dir.
        assigned = idx.assign_multi(df, probes=max(1, self.probes), input_col=self.vec_col)
        assigned = assigned.select(self.id_col, self.vec_col, "cluster")
        t, id_col, vec = self.threshold, self.id_col, self.vec_col

        def dedup_cluster(pdf):
            import pandas as pd

            ids = pdf[id_col].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            m = np.array(list(pdf[vec].iloc[order]), dtype=np.float64)
            norms = np.linalg.norm(m, axis=1)
            ok = norms > 0
            iids, m = ids[ok], m[ok] / norms[ok][:, None]
            n = len(iids)
            empty = pd.DataFrame({id_col: pdf[id_col].iloc[0:0], "__rep": pdf[id_col].iloc[0:0]})
            if n < 2:
                return empty
            # blocked rows-vs-all matmul (same bound as EmbeddingCosine's
            # bucketed path): peak ~64 MB per task regardless of cell size —
            # a full n x n cosine matrix on a 25k-row cell would be 5 GB
            block_rows = max(64, min(4096, (8 << 20) // n))
            out_ids, out_reps = [], []
            for s in range(1, n, block_rows):  # row 0 has no earlier partner
                e = min(s + block_rows, n)
                cos = np.round(m[s:e] @ m.T, 6)
                earlier = np.arange(n)[None, :] < np.arange(s, e)[:, None]
                hit = (cos >= t) & earlier
                any_hit = hit.any(axis=1)
                if not any_hit.any():
                    continue
                first = hit.argmax(axis=1)  # smallest earlier id (ids ascending)
                out_ids.append(iids[s:e][any_hit])
                out_reps.append(iids[first[any_hit]])
            if not out_ids:
                return empty
            return pd.DataFrame({id_col: np.concatenate(out_ids), "__rep": np.concatenate(out_reps)})

        # pairs carry the INPUT's id type (string doc ids work: numpy
        # compares/argsorts unicode arrays just as it does int64)
        id_dt = df.schema[self.id_col].dataType.simpleString()
        pairs = assigned.groupBy("cluster").applyInPandas(
            dedup_cluster, schema=f"{id_col} {id_dt}, __rep {id_dt}"
        )
        if self.probes > 1:
            # a doc probing p cells can be rejected in several of them (with
            # different reps) — collapse to one row per doc, earliest rep
            # wins (the same min-id rule the per-cell kernel applies)
            pairs = pairs.groupBy(id_col).agg(F.min("__rep").alias("__rep"))
        return pairs
