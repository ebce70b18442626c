"""Attribute the fineweb recipe's dedup-stage 100x slope (round-10 verdict
next-task #6: dedup is the dominant sf10 stage — 12.6s of 31.9s, slope
4.92x vs the standalone minhash_lsh_dedup line's 1.67x).

Method: materialize the recipe's dedup INPUT (the cleanup-stage output —
doc_id + text_redacted of every row surviving the relaxed quality cuts)
to parquet at sf0.1 and sf10, then time the dedup components separately
over that frozen input (min-of-2, steady-state warmup like bench.py):

  exact        TextExactDeduplicator alone (content-key md5 + one shuffle)
  mh_sig       MinHash signature compute only (shingles -> per-shingle md5
               -> 16 min-aggs; the CPU side, one shuffle for the groupBy)
  mh_pairs     full _band_pairs (adds the band-key window shuffle + the
               per-id groupBy — "the two banded dedup shuffles")
  both         exact then minhash back-to-back (the recipe shape)
  mh_long_key  variant: band key folded to ONE long via xxhash64 instead
               of the 'b_h1,h2,h3,h4' string (~80B -> 8B shuffle width);
               measures how much of the slope is shuffle-byte-bound

plus the band-row count and mean band-key width (shuffle payload proxy —
after the round-11 fold the column is a LONG, so the reported "width" is
its string repr ~18 chars; on the wire it is 8 bytes vs the 36.5-char
string it replaced).

FINDINGS (round 11, committed .out is the post-fold run):
  * Attribution: the recipe dedup stage's steep 100x slope is an
    sf0.1-DENOMINATOR artifact, not super-linear work — per-doc cost
    FALLS ~18x with scale (both: 357us/doc at 4.7k docs -> 17us/doc at
    473k docs); at sf0.1 the stage mostly measures fixed job overhead.
    The sf10-absolute dominant cost is minhash signature CPU (shingle
    build + one md5 per distinct shingle), which is pinned by the
    cross-engine oracle discipline (DuckDB mirrors the exact md5 fold).
  * Improvement landed: folding the band key 'b_m1,..,m4' string to one
    60-bit long (hash64_from_md5, mirrored by _h64 in the oracle) cut
    the pairs step 6.56s -> 5.68s (-13%) and back-to-back dedup
    9.25s -> 8.25s at sf10, and shrinks the two banded shuffles ~4.5x
    in bytes — the lever that matters on a real cluster.

Run ISOLATED (tmux, pgrep -x java clean):
    python scripts/diag_fineweb_dedup.py | tee scripts/diag_fineweb_dedup.out
"""

from __future__ import annotations

import copy
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mega_data_factory_spark.config import PipelineConfig, SinkConfig
from mega_data_factory_spark.operators.dedup import MinHashLSHDeduplicator, TextExactDeduplicator
from mega_data_factory_spark.plans.pipeline import Pipeline
from mega_data_factory_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALES = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf10": os.path.join(REPO, ".localdata", "sf10"),
}


def relax_fineweb(recipe_cfg) -> None:
    """Bench-copy thresholds — keep in sync with bench.py _relax_fineweb."""
    for st in recipe_cfg.stages:
        for oc in st.operators:
            nm = oc.params.get("name")
            if nm == "LanguageCut" or (st.name == "language" and oc.name == "NumericRangeFilter"):
                oc.params = {**oc.params, "lo": 0}
            elif nm == "QualityScoreCut":
                oc.params = {**oc.params, "lo": 0}
            elif nm == "GopherRepetitionCut":
                oc.params = {**oc.params, "hi": 1.0}


def materialize_cleanup_output(spark, src: str, dest: str) -> int:
    """Run the recipe truncated BEFORE the dedup stage and write the
    cleaned survivors (doc_id, text_redacted AS text) — the exact frame
    the dedup stage consumes."""
    with open(os.path.join(REPO, "configs", "fineweb_style_recipe.yaml")) as f:
        cfg = PipelineConfig.from_yaml(f.read())
    relax_fineweb(cfg)
    cfg = copy.deepcopy(cfg)
    cfg.stages = [s for s in cfg.stages if s.name not in ("dedup", "split")]
    tmp = tempfile.mkdtemp(prefix="diag_fwd_")
    try:
        cfg.source.path = src
        cfg.sink = SinkConfig(path=os.path.join(tmp, "out"), mode="overwrite")
        cfg.rejected_sink = SinkConfig(path=os.path.join(tmp, "rej"), mode="overwrite")
        cfg.metrics_path = os.path.join(tmp, "metrics")
        Pipeline(cfg).run(spark)
        df = spark.read.parquet(os.path.join(tmp, "out")).select(
            "doc_id", F.col("text_redacted").alias("text")
        )
        df.write.mode("overwrite").parquet(dest)
        return spark.read.parquet(dest).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def timed(fn, passes: int = 2) -> float:
    best = float("inf")
    for _ in range(passes):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def long_key_band_pairs(d: MinHashLSHDeduplicator, df):
    """_band_pairs with the band key folded to one long (xxhash64) —
    identical bucketing up to 64-bit collisions, ~10x narrower shuffle."""
    from pyspark.sql import Window

    from mega_data_factory_spark.functions.hashing import hash64_from_md5
    from mega_data_factory_spark.functions.text import word_shingles
    from mega_data_factory_spark.operators.dedup import minhash_hash_family

    exploded = df.select(
        F.col(d.id_col),
        F.explode(F.array_distinct(word_shingles(d.text_col, d.shingle_n))).alias("__s"),
    ).select(F.col(d.id_col), hash64_from_md5("__s").alias("__bh"))
    sig = exploded.groupBy(d.id_col).agg(
        *[F.min(minhash_hash_family(F.col("__bh"), i)).alias(f"__m{i}") for i in range(d.num_hashes)]
    )
    bands = F.array(
        *[
            F.xxhash64(
                F.lit(b), *[F.col(f"__m{b * d.rows_per_band + r}") for r in range(d.rows_per_band)]
            )
            for b in range(d.bands)
        ]
    )
    ids = sig.select(F.col(d.id_col), F.explode(bands).alias("__band_key"))
    w = Window.partitionBy("__band_key")
    return (
        ids.withColumn("__bucket_min", F.min(F.col(d.id_col)).over(w))
        .filter(F.col("__bucket_min") < F.col(d.id_col))
        .groupBy(d.id_col)
        .agg(F.min("__bucket_min").alias("__rep"))
    )


def main() -> None:
    spark = get_spark("diag-fineweb-dedup", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    results: dict[str, dict[str, float]] = {}
    for scale, sf_dir in SCALES.items():
        src = f"{sf_dir}/documents.parquet"
        if not os.path.exists(src):
            print(f"{scale}: {src} missing — run scripts/make_scaled_sf.py first")
            continue
        dest = tempfile.mkdtemp(prefix=f"diag_fwd_input_{scale}_")
        try:
            n = materialize_cleanup_output(spark, src, dest)
            base = spark.read.parquet(dest)
            base.count()  # warm footers/cache
            print(f"\n{scale}: dedup input = {n} cleaned docs", flush=True)

            exact = TextExactDeduplicator(id_col="doc_id")
            mh = MinHashLSHDeduplicator(num_hashes=16, bands=4, id_col="doc_id")

            r: dict[str, float] = {}
            r["exact"] = timed(lambda: exact.apply(base).count())
            r["mh_sig"] = timed(
                lambda: base.select(
                    "doc_id",
                    F.explode(
                        F.array_distinct(
                            __import__(
                                "mega_data_factory_spark.functions.text", fromlist=["word_shingles"]
                            ).word_shingles("text", mh.shingle_n)
                        )
                    ).alias("__s"),
                )
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .count()
            )
            r["mh_pairs"] = timed(lambda: mh._band_pairs(base).count())
            r["both"] = timed(
                lambda: mh._band_pairs(exact.apply(base)).count()
            )
            r["mh_long_key"] = timed(lambda: long_key_band_pairs(mh, base).count())

            band_rows = mh._band_ids(base)
            stats = band_rows.agg(
                F.count(F.lit(1)).alias("rows"), F.avg(F.length("__band_key")).alias("w")
            ).first()
            print(
                f"{scale}: band rows = {stats['rows']}, mean key width = {stats['w']:.1f} chars"
            )
            for k, v in r.items():
                print(f"{scale} {k:12s} {v:7.2f}s", flush=True)
            results[scale] = r
        finally:
            shutil.rmtree(dest, ignore_errors=True)

    if len(results) == 2:
        print("\n== 100x slopes (dedup-input-relative) ==")
        for k in results["sf0.1"]:
            a, b = results["sf0.1"][k], results["sf10"][k]
            print(f"{k:12s} sf0.1 {a:6.2f}s   sf10 {b:7.2f}s   slope {b/a:6.2f}x")


if __name__ == "__main__":
    main()
