"""Distributed Bloom filter: store-membership pre-filter for incremental dedup.

The incremental dedup family (`IncrementalExactDeduplicator`,
`IncrementalMinHashDeduplicator`, `IncrementalKeyDeduplicator` —
operators/dedup.py) checks every batch row against a persisted seen-keys
store with a hash join: correct, but at 100 TB the join shuffles the ENTIRE
batch on the key even though, on a steady-state crawl, the overwhelming
majority of rows are new and match nothing. A Bloom filter built from the
store keys gives each row a no-false-negative membership test BEFORE the
join: "definitely new" rows skip the store join entirely, and only the
possibly-seen sliver (true hits + the configured false-positive rate) pays
the shuffle. This is the classic bloom-pruned semi-join reduction the
reference's in-memory seen-set actors get implicitly by holding state in
RAM (framework/backend.py:21-47); here it is explicit, bounded, and
persisted-state-compatible.

Spark-first shape — BOTH sides stay JVM-side, no Python in any hot path:

* **Build**: bit positions are computed JVM-side (``xxhash64`` Columns —
  the SAME expressions the probe uses, so build/probe hash consistency is
  by construction), each partition folds its positions into a local numpy
  bitmap inside one ``mapInPandas`` pass (no shuffle of key data), and an
  executor-side OR-reduce tree collapses the partial bitmaps so the
  driver collects exactly ONE — the treeAggregate discipline of Spark's
  own (unexposed) BloomFilterAggregate.
  A first-draft ``explode + groupBy(word).agg(bit_or)`` build was measured
  and rejected: bit positions are uniform, so map-side partial aggregation
  cannot collapse them and the build shuffles ``num_hashes`` rows PER KEY —
  more bytes than the store join it is meant to remove.
* **Probe** is pure Column arithmetic: the bitmap rides into the plan as a
  single-row broadcast (one ``array<long>`` cell, broadcast-nested-loop
  against the batch = zero shuffle), and each row tests
  ``element_at(bits, word) & mask != 0`` for its ``num_hashes`` positions —
  whole-stage-codegen'd, identical xxhash64 expressions as the build, so
  build/probe hash consistency is by construction, not by re-implementing
  the hash in two languages.

Scale bounds, stated: the bitmap costs ``num_bits/8`` bytes on the driver
and once per executor as a broadcast — 10^8 store keys at 1% fpp is
~120 MB, 10^9 is ~1.2 GB; ``max_bits`` (default 2^33 = 1 GiB) caps the
allocation and degrades fpp (with a warning) instead of OOMing the driver.
Past that, shard the store and run one filter per shard, or fall back to
the plain join (``bloom_fpp=None`` — the default — keeps the old path).

NULL keys never enter the filter (``fit`` drops them) and always probe
False ("definitely new"): a SQL left join on a NULL key matches nothing,
so pruned and unpruned paths agree on NULL by construction.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_LN2 = math.log(2.0)


def _shiftleft(one: Column, bits: Column) -> Column:
    """Variable-distance shiftleft (the PySpark wrapper only takes a literal
    distance; the SQL function accepts a column)."""
    return F.call_function("shiftleft", one, bits.cast("int"))


class BloomFilter:
    """A fitted Bloom filter over a string key column.

    ``fit`` sizes the filter from the key count and ``fpp`` using the
    standard formulas (m = -n ln p / ln^2 2, k = m/n ln 2, k clamped to
    [1, 16]) unless ``num_bits``/``num_hashes`` are pinned. The fitted
    state is a numpy int64 bitmap + the two integers — picklable,
    persistable (``save``/``load``), and engine-independent given the same
    xxhash64 positions.
    """

    def __init__(
        self,
        *,
        fpp: float = 0.01,
        num_bits: int | None = None,
        num_hashes: int | None = None,
        max_bits: int = 1 << 33,
    ):
        if not 0.0 < fpp < 1.0:
            raise ValueError(f"fpp must be in (0, 1), got {fpp}")
        if num_bits is not None and num_bits < 1:
            raise ValueError(f"num_bits must be >= 1, got {num_bits}")
        if num_hashes is not None and not 1 <= num_hashes <= 16:
            raise ValueError(f"num_hashes must be in [1, 16], got {num_hashes}")
        self.fpp = fpp
        self.num_bits = num_bits
        self.num_hashes = num_hashes
        # USER pins, distinct from fitted state: fit() writes the computed
        # sizing into num_bits/num_hashes (the probe needs them), so a
        # refit must size from these originals — treating the previous
        # fit's size as a pin silently kept a now-undersized bitmap
        # (100k-keys filter refit on a 10M-key store -> fpp ~1, every row
        # probes "hit", no warning).
        self._pinned_bits = num_bits
        self._pinned_hashes = num_hashes
        self.max_bits = max_bits
        self.bits = None  # numpy int64[num_bits // 64], set by fit/load
        self.item_count: int | None = None

    # -- sizing -----------------------------------------------------------

    @staticmethod
    def _round_words(bits: int) -> int:
        return max(64, ((bits + 63) // 64) * 64)

    def _size_for(self, n: int) -> tuple[int, int]:
        """(num_bits, num_hashes) for n items at self.fpp, honoring pins."""
        if self._pinned_bits is not None:
            m = self._round_words(self._pinned_bits)
        elif n == 0:
            m = 64
        else:
            m = self._round_words(int(math.ceil(-n * math.log(self.fpp) / (_LN2 * _LN2))))
        if m > self.max_bits:
            eff = math.exp(-(self.max_bits / max(n, 1)) * _LN2 * _LN2)
            warnings.warn(
                f"BloomFilter: sizing for n={n} at fpp={self.fpp} needs {m} bits; "
                f"clamping to max_bits={self.max_bits} (effective fpp ~{eff:.3g}). "
                "Shard the store or raise max_bits if that is too lossy."
            )
            m = self._round_words(self.max_bits)
        if self._pinned_hashes is not None:
            k = self._pinned_hashes
        else:
            k = max(1, min(16, int(round((m / max(n, 1)) * _LN2))))
        return m, k

    # -- build ------------------------------------------------------------

    def _base_hashes(self, key: Column, m: int) -> tuple[Column, Column]:
        """The two base hashes of the Kirsch-Mitzenmacher double-hashing
        scheme: position_i = (h1 + i*h2) mod m gives k near-independent
        positions from TWO xxhash64 evaluations (the asymptotic fpp is
        unchanged — Kirsch & Mitzenmacher 2006). Build and probe both
        derive positions from this one method, so consistency is by
        construction; the build ships 2 long columns per key instead of k."""
        h1 = F.pmod(F.xxhash64(key.cast("string"), F.lit(0)), F.lit(m))
        h2 = F.pmod(F.xxhash64(key.cast("string"), F.lit(1)), F.lit(m))
        return h1, h2

    def _positions(self, key: Column, m: int, k: int) -> list[tuple[Column, Column]]:
        """k (word index, bit mask) Column pairs for a key. No int64
        overflow: h1, h2 < m <= 2^33 and i <= 16, so h1 + i*h2 < 2^38."""
        h1, h2 = self._base_hashes(key, m)
        out = []
        for i in range(k):
            pos = F.pmod(h1 + F.lit(i) * h2, F.lit(m))
            word = F.shiftright(pos, 6)  # // 64 (m is a multiple of 64)
            mask = _shiftleft(F.lit(1).cast("long"), pos.bitwiseAND(F.lit(63)))
            out.append((word, mask))
        return out

    def fit(self, df: DataFrame, key: Column | str, *, build_partitions: int | None = None) -> "BloomFilter":
        """Build the bitmap from ``df``'s key column. Two jobs: a count
        (sizing) and one narrow ``mapInPandas`` pass that folds each
        partition's JVM-computed bit positions into a local numpy bitmap,
        followed by an EXECUTOR-SIDE OR-reduce tree down to a single
        bitmap — the driver collects ``num_bits/8`` bytes exactly once,
        never ``partitions x num_bits/8``. (The partial-bitmap traffic
        rides the shuffle instead of the py4j driver socket; on the 30M-key
        diag store that is 32 x 36 MB = 1.1 GB that no longer serializes
        through the driver — scripts/diag_bloom.out is the canonical
        measurement.) NULL keys are dropped. ``build_partitions`` sets the
        fold parallelism (default: the session's parallelism)."""
        import numpy as np

        key = F.col(key) if isinstance(key, str) else key
        keys = df.select(key.alias("__bf_key")).filter(F.col("__bf_key").isNotNull())
        n = keys.count()
        m, k = self._size_for(n)
        nparts = build_partitions or df.sparkSession.sparkContext.defaultParallelism
        words = m // 64

        # TWO flat long columns (the KM base hashes), not k and not an
        # array column: Arrow hands flat int64 buffers to numpy zero-copy
        # (a list<long> column arrives as per-row Python lists — measured
        # ~30x slower at a 30M-key store), and double hashing cuts the
        # transfer from k columns to 2
        h1c, h2c = self._base_hashes(F.col("__bf_key"), m)
        pos = keys.select(h1c.alias("h1"), h2c.alias("h2"))

        def _fold(batches):
            import pandas as pd

            arr = np.zeros(words, dtype=np.uint64)
            one = np.uint64(1)
            um = np.uint64(m)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                h1 = pdf["h1"].to_numpy(dtype=np.int64).astype(np.uint64)
                h2 = pdf["h2"].to_numpy(dtype=np.int64).astype(np.uint64)
                for i in range(k):
                    ps = (h1 + np.uint64(i) * h2) % um
                    np.bitwise_or.at(
                        arr, (ps >> np.uint64(6)).astype(np.int64), one << (ps & np.uint64(63))
                    )
            yield pd.DataFrame({"bm": [arr.tobytes()]})

        def _or_fold(batches):
            import pandas as pd

            acc = np.zeros(words, dtype=np.uint64)
            for pdf in batches:
                for buf in pdf["bm"]:
                    acc |= np.frombuffer(buf, dtype=np.uint64)
            yield pd.DataFrame({"bm": [acc.tobytes()]})

        parts = pos.coalesce(max(1, nparts)).mapInPandas(_fold, "bm binary")
        # OR-reduce tree (fan-in 32): repartition() is the stage barrier —
        # a coalesce(1) here would collapse the fold into ONE task and
        # serialize the whole build
        cur = max(1, nparts)
        while cur > 1:
            cur = max(1, cur // 32)
            parts = parts.repartition(cur).mapInPandas(_or_fold, "bm binary")
        acc = np.zeros(words, dtype=np.uint64)
        for r in parts.collect():  # exactly one row after the tree
            acc |= np.frombuffer(r["bm"], dtype=np.uint64)
        self.bits = acc.view(np.int64).copy()
        self.num_bits, self.num_hashes, self.item_count = m, k, n
        return self

    # -- probe ------------------------------------------------------------

    def _require_fitted(self) -> None:
        if self.bits is None:
            raise ValueError("BloomFilter is not fitted (call fit() or load())")

    def _bitmap_df(self, spark: SparkSession) -> DataFrame:
        import pandas as pd

        self._require_fitted()
        # Arrow sessions get the numpy array directly (zero-copy into an
        # Arrow list cell); sessions WITHOUT Arrow take the pickled
        # _createFromLocal path, whose verifier rejects numpy.int64
        # elements for LongType — there the cell must be Python ints.
        # Correctness must not depend on how the session was configured
        # (the r7 driver gate ran Arrow-off and crashed here), so the
        # conversion is keyed on the live conf with a belt-and-braces
        # retry for any conf/fallback combination we did not foresee.
        arrow_on = (
            spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false").lower()
            == "true"
        )
        cell = self.bits if arrow_on else self.bits.tolist()
        try:
            return spark.createDataFrame(
                pd.DataFrame({"__bf_bits": [cell]}), "__bf_bits array<long>"
            )
        except (TypeError, ValueError) as exc:
            # the retry exists ONLY for the type-verifier rejecting numpy
            # cells on a non-Arrow createDataFrame path we failed to
            # predict from the conf (PySparkTypeError subclasses
            # TypeError/ValueError); genuinely transient failures — FS
            # hiccup, cancelled job — must surface on the FIRST attempt,
            # not after silently re-running a ~15M-element tolist()
            if cell is self.bits:
                return spark.createDataFrame(
                    pd.DataFrame({"__bf_bits": [self.bits.tolist()]}),
                    "__bf_bits array<long>",
                )
            raise exc

    def contains_expr(self, key: Column | str) -> Column:
        """Membership test against a plan-side ``__bf_bits`` array column
        (attach it with ``with_hit_col``). NULL key -> False (never in the
        filter). Pure codegen — no UDF, no shuffle."""
        self._require_fitted()
        key = F.col(key) if isinstance(key, str) else key
        test = F.lit(True)
        for word, mask in self._positions(key, self.num_bits, self.num_hashes):
            hit = F.element_at(F.col("__bf_bits"), (word + 1).cast("int")).bitwiseAND(mask) != 0
            test = test & hit
        return F.when(key.isNull(), F.lit(False)).otherwise(test)

    def with_hit_col(self, df: DataFrame, key: Column | str, out_col: str = "__bloom_hit") -> DataFrame:
        """``df`` plus a boolean membership column. The bitmap joins in as a
        broadcast single-row frame (one array cell shipped once per
        executor), tested with codegen'd bit arithmetic, then dropped."""
        bm = self._bitmap_df(df.sparkSession)
        return (
            df.crossJoin(F.broadcast(bm))
            .withColumn(out_col, self.contains_expr(key))
            .drop("__bf_bits")
        )

    # -- persistence (train-once, apply-later — the PQ/classifier posture) -

    def save(self, path: str) -> None:
        import numpy as np

        self._require_fitted()
        np.savez(
            path if path.endswith(".npz") else path + ".npz",
            bits=self.bits,
            meta=np.array([self.num_bits, self.num_hashes, self.item_count or 0], dtype=np.int64),
        )

    @classmethod
    def load(cls, path: str) -> "BloomFilter":
        import numpy as np

        with np.load(path if path.endswith(".npz") else path + ".npz") as z:
            bits, meta = z["bits"], z["meta"]
        bf = cls(num_bits=int(meta[0]), num_hashes=int(meta[1]))
        # loaded geometry is FITTED state, not a user pin: a load-then-fit
        # on a different store must resize from fpp, not freeze the old size
        bf._pinned_bits = bf._pinned_hashes = None
        bf.bits = bits.astype(np.int64)
        bf.item_count = int(meta[2])
        return bf


def bloom_pruned_left_join(
    left: DataFrame, right: DataFrame, on: str, *, fpp: float = 0.01
) -> DataFrame:
    """``left.join(right, on=on, how="left")`` with ZERO large shuffles,
    via a Bloom pre-filter built from ``right``'s keys. Rows the filter
    rejects are DEFINITELY unmatched (no false negatives) and bypass the
    join with NULL right-side columns. Result is row-for-row equal to the
    plain left join whenever ``right`` is unique on ``on`` (the incremental
    stores are — ``SeenStore.lookup``, the one call site, collapses
    duplicates first).

    Join geometry (the part that matters at 100 TB): a naive
    ``hits LEFT JOIN right`` cannot broadcast — left-outer correctness
    forces the build side to be ``right``, the very table that outgrew the
    broadcast threshold, so both sides shuffle anyway (measured: AQE kept
    SortMergeJoin). Instead the hit-key sliver semi-reduces the store
    FIRST, and the join order inverts:

      1. probe: broadcast bitmap, codegen bit tests — no shuffle;
      2. ``right LEFT SEMI broadcast(hit keys)`` — the store STREAMS once,
         emitting only rows whose key some batch row might carry (true
         duplicates + fpp sliver);
      3. ``hits LEFT JOIN broadcast(pruned store)`` — the right side is
         now sliver-sized, so the left-outer broadcast is legal and the
         batch never shuffles either;
      4. union the definite-miss rows back with NULL right columns.

    The only exchange left is the hit-key ``distinct`` — compact keys at
    hit-sliver cardinality. The broadcast hints are load-bearing and
    bounded: both broadcasts are O(true duplicates + fpp x batch). A batch
    that is MOSTLY duplicates breaks that bound — there, the plain join
    was the right plan anyway (``bloom_fpp=None`` on the store).

    Cost model: ``right`` is scanned twice more than the plain join (fit
    fold + semi reduction) — it is the compact key store, ~0.1-0.5% of the
    corpus — to remove the full-batch AND full-store shuffles that
    dominate at scale. On local[*], where shuffles ride RAM, the plain
    join is cheaper (scripts/diag_bloom.out measures it honestly); the
    knob exists for cluster-scale stores past the broadcast threshold.
    """
    overlap = (set(left.columns) & set(right.columns)) - {on}
    if overlap:
        # the plain join would emit BOTH copies of a shared column; the
        # miss-branch union here cannot (withColumns would overwrite the
        # left copy with NULL and unionByName rejects duplicate names) —
        # fail loud instead of silently corrupting left data
        raise ValueError(
            f"bloom_pruned_left_join: left and right share non-key column(s) "
            f"{sorted(overlap)}; rename the right side before pruning"
        )
    bf = BloomFilter(fpp=fpp).fit(right, on)
    marked = bf.with_hit_col(left, on, "__bloom_hit")
    hit_rows = marked.filter(F.col("__bloom_hit")).drop("__bloom_hit")
    hit_keys = hit_rows.select(on).distinct()
    pruned_right = right.join(F.broadcast(hit_keys), on=on, how="left_semi")
    hits = hit_rows.join(F.broadcast(pruned_right), on=on, how="left")
    null_right = {
        c: F.lit(None).cast(right.schema[c].dataType) for c in right.columns if c != on
    }
    misses = marked.filter(~F.col("__bloom_hit")).drop("__bloom_hit").withColumns(null_right)
    return hits.unionByName(misses)
