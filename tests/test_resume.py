"""Batch checkpoint/resume via the processed-file manifest — the reference's
per-shard resume semantics (loader_worker.py:133-140,236-252) at file
granularity."""

import os

import duckdb
import pytest

from mega_data_factory_spark.config import PipelineConfig
from mega_data_factory_spark.plans.pipeline import Pipeline
from mega_data_factory_spark.sources.manifest import (
    list_input_files,
    mark_processed,
    processed_files,
    unprocessed_files,
)
from tests.conftest import SF_DIR_ORACLE


@pytest.fixture()
def split_docs(tmp_path):
    """documents split into 4 parquet part files in a directory source."""
    src = tmp_path / "docs"
    src.mkdir()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR_ORACLE}/documents.parquet')")
    for i in range(4):
        con.execute(f"COPY (SELECT * FROM documents WHERE doc_id % 4 = {i}) TO '{src}/part-{i}.parquet' (FORMAT PARQUET)")
    return src


def _cfg(src, tmp_path) -> PipelineConfig:
    return PipelineConfig.from_yaml(
        f"""
pipeline:
  name: resumable
  id_col: doc_id
  source:
    format: parquet
    path: {src}
    resume_manifest: {tmp_path}/manifest.jsonl
  stages:
    - name: filtering
      operators:
        - name: TextLengthFilter
          params: {{min_length: 100, max_length: 400, length_col: n_chars}}
  sink:
    format: parquet
    path: {tmp_path}/out
"""
    )


def test_manifest_listing_roundtrip(split_docs, tmp_path):
    man = str(tmp_path / "m.jsonl")
    files = list_input_files(str(split_docs))
    assert len(files) == 4 and files == sorted(files)
    assert unprocessed_files(str(split_docs), man) == files
    mark_processed(man, files[:2], "run_a")
    assert processed_files(man) == set(files[:2])
    assert unprocessed_files(str(split_docs), man) == files[2:]


def test_pipeline_resume_skips_processed_files(spark, split_docs, tmp_path):
    cfg = _cfg(split_docs, tmp_path)
    man = cfg.source.resume_manifest

    # simulate a partial previous run: 2 of 4 files already checkpointed
    files = list_input_files(str(split_docs))
    mark_processed(man, files[:2], "run_partial")

    r1 = Pipeline(cfg).run(spark)
    con = duckdb.connect()
    expect = con.execute(
        f"SELECT count(*) FROM read_parquet(['{files[2]}', '{files[3]}'])"
    ).fetchone()[0]
    assert r1.input_records == expect  # only the unprocessed half was read
    assert processed_files(man) == set(files)  # run checkpointed the rest

    # fully resumed: second run is a no-op and writes nothing new
    out_files = set(os.listdir(tmp_path / "out"))
    r2 = Pipeline(cfg).run(spark)
    assert r2.input_records == 0 and r2.output_records == 0
    assert set(os.listdir(tmp_path / "out")) == out_files

    # a new file arriving is picked up incrementally
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{files[0]}') LIMIT 10) TO '{split_docs}/part-4.parquet' (FORMAT PARQUET)"
    )
    r3 = Pipeline(cfg).run(spark)
    assert r3.input_records == 10


def test_incremental_dedup_across_runs(spark, tmp_path):
    """IncrementalExactDeduplicator: batch 2 rejects texts batch 1 already
    admitted (the stored representative wins), while in-batch first-wins
    still applies; the store is plain parquet keys, inspectable and
    append-only."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.dedup import IncrementalExactDeduplicator

    store = str(tmp_path / "seen_keys")
    d = IncrementalExactDeduplicator(store, id_col="doc_id")

    b1 = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "a totally different doc"), (3, "THE  QUICK  BROWN  FOX")],
        "doc_id long, text string",
    )
    # first run: empty store -> pure in-batch dedup (3 normalizes to 1's key)
    surv1 = {r.doc_id for r in d.apply(b1).collect()}
    assert surv1 == {1, 2}
    d.update_store(b1)

    b2 = spark.createDataFrame(
        [(10, "the quick brown fox"),       # seen in run 1 -> rejected, rep "1"
         (11, "a brand new document"),      # new -> kept
         (12, "a brand new document"),      # in-batch dup of 11 -> rejected, rep "11"
         (13, "a totally different doc")],  # seen in run 1 -> rejected, rep "2"
        "doc_id long, text string",
    )
    surv2 = {r.doc_id for r in d.apply(b2).collect()}
    assert surv2 == {11}
    rejected = d.rejected(b2).select(
        "doc_id", "_rejection_details.representative_id", "_rejection_details.dedup_key").collect()
    reps = {r.doc_id: r["representative_id"] for r in rejected}
    assert reps == {10: "1", 12: "11", 13: "2"}
    # store hits (10, 13) and the in-batch duplicate (12) all carry the
    # content key they were rejected on: the md5 hex of the normalized text
    content_keys = {r.doc_id: r.k for r in b2.selectExpr("doc_id", f"{d.key_sql(b2)} AS k").collect()}
    assert {r.doc_id: r["dedup_key"] for r in rejected} == {i: content_keys[i] for i in (10, 12, 13)}
    assert all(len(content_keys[i]) == 32 for i in (10, 12, 13))
    d.update_store(b2)

    # store now covers both runs; a third batch of all-seen texts keeps nothing
    b3 = spark.createDataFrame(
        [(20, "a brand new document"), (21, "the quick brown fox")], "doc_id long, text string"
    )
    assert d.apply(b3).count() == 0
    # update_store is at-least-once safe: re-appending b2 changes nothing
    d.update_store(b2)
    assert d.apply(b3).count() == 0
    # the store itself is inspectable data
    keys = spark.read.parquet(store)
    assert {"content_key", "representative_id"} <= set(keys.columns)


def test_incremental_dedup_store_persists_via_pipeline_run(spark, tmp_path):
    """Config-driven runs must persist the store WITHOUT the caller knowing
    about update_store: run 1 emits its docs and records their keys; run 2
    on overlapping content rejects the already-emitted texts."""
    from mega_data_factory_spark.config import PipelineConfig, SinkConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    store = str(tmp_path / "seen_keys")

    def cfg_for(view: str, out: str) -> PipelineConfig:
        cfg = PipelineConfig.from_dict(
            {
                "pipeline": {
                    "name": "incr",
                    "id_col": "doc_id",
                    "source": {"table": view},
                    "stages": [
                        {"name": "dedup", "operators": [
                            {"name": "IncrementalExactDeduplicator",
                             "params": {"store_path": store, "id_col": "doc_id"}},
                        ]},
                    ],
                }
            }
        )
        cfg.sink = SinkConfig(path=str(tmp_path / out))
        return cfg

    spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    ).createOrReplaceTempView("incr_run1")
    Pipeline(cfg_for("incr_run1", "out1")).run(spark)
    assert spark.read.parquet(store).count() == 2  # keys persisted by run()

    spark.createDataFrame(
        [(10, "alpha beta"), (11, "epsilon zeta")], "doc_id long, text string"
    ).createOrReplaceTempView("incr_run2")
    res2 = Pipeline(cfg_for("incr_run2", "out2")).run(spark)
    out2 = spark.read.parquet(str(tmp_path / "out2"))
    # run-1 content rejected across runs; only the new text survives
    assert {r.doc_id for r in out2.collect()} == {11}
    assert res2.output_records == 1


def test_resume_passes_pending_files_to_custom_source(spark, tmp_path, monkeypatch):
    """Custom-format sources (warc etc.) must receive the PENDING file
    list on resume — re-globbing the whole path re-appends processed
    files. Also: a metrics-only run (no sinks) must NOT mark files
    processed, or a later sinked run would skip them forever."""
    from mega_data_factory_spark.config import PipelineConfig, SinkConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline
    from mega_data_factory_spark.registry import SOURCES

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    for name, ids in (("a.fake", [1, 2]), ("b.fake", [3])):
        spark.createDataFrame([(i,) for i in ids], "event_id long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src_dir / name))

    seen_paths = []

    def fake_loader(spark_, path, *, options=None):
        seen_paths.append(path)
        return spark_.read.parquet(*path) if isinstance(path, list) else spark_.read.parquet(f"{path}/*.fake")

    # the registry stores callables for custom sources (read_source calls
    # them as (spark, path, options=...)); register directly under the name
    SOURCES._by_name["fakefmt"] = fake_loader  # type: ignore[attr-defined]

    def cfg_with(sink):
        cfg = PipelineConfig.from_dict(
            {
                "pipeline": {
                    "name": "resume_custom",
                    "id_col": "event_id",
                    "source": {"format": "fakefmt", "path": str(src_dir),
                               "resume_manifest": str(tmp_path / "manifest.jsonl")},
                    "stages": [{"name": "s", "operators": [
                        {"name": "NumericRangeFilter", "params": {"column": "event_id", "lo": 0.0}},
                    ]}],
                }
            }
        )
        cfg.sink = sink
        return cfg

    # metrics-only run: must not checkpoint the files
    Pipeline(cfg_with(None)).run(spark)
    assert not (tmp_path / "manifest.jsonl").exists()

    # sinked run 1: processes both files, marks them
    Pipeline(cfg_with(SinkConfig(path=str(tmp_path / "out")))).run(spark)
    out1 = spark.read.parquet(str(tmp_path / "out"))
    assert out1.count() == 3

    # new file arrives; run 2 must receive ONLY the pending file list
    spark.createDataFrame([(9,)], "event_id long").coalesce(1).write.mode("overwrite").parquet(
        str(src_dir / "c.fake")
    )
    Pipeline(cfg_with(SinkConfig(path=str(tmp_path / "out")))).run(spark)
    assert isinstance(seen_paths[-1], list) and len(seen_paths[-1]) == 1
    assert "c.fake" in seen_paths[-1][0]
    out2 = spark.read.parquet(str(tmp_path / "out"))
    assert out2.count() == 4  # no re-appended rows from a/b


def test_incremental_minhash_dedup_across_runs(spark, tmp_path):
    """IncrementalMinHashDeduplicator: NEAR-duplicates of previously
    admitted docs are rejected in later runs via the persisted band store
    (stored representative wins over the batch-internal min); genuinely
    new docs survive; appends are at-least-once safe."""
    from mega_data_factory_spark.operators.dedup import IncrementalMinHashDeduplicator

    store = str(tmp_path / "band_store")
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest before the hunters arrive")
    variant = base.replace("green forest", "green woods")  # near-dup of base
    other = ("completely unrelated content about distributed query engines "
             "processing petabytes of shuffled analytical data every day")
    d = IncrementalMinHashDeduplicator(store, id_col="doc_id", num_hashes=16, bands=8)

    b1 = spark.createDataFrame(
        [(1, base), (2, other), (3, base + " extra trailing clause appended")],
        "doc_id long, text string",
    )
    surv1 = {r.doc_id for r in d.apply(b1).collect()}
    assert 1 in surv1 and 2 in surv1  # first run: in-batch rule only
    d.update_store(b1)

    b2 = spark.createDataFrame(
        [(10, base),      # exact re-occurrence -> rejected, stored rep "1"
         (11, variant),   # near-dup of stored base -> rejected (band match)
         (12, other + " now with fresh words"),  # near-dup of stored 2
         (13, "an entirely novel document about gardening with tomatoes "
              "peppers cucumbers and a small patch of fragrant basil")],
        "doc_id long, text string",
    )
    surv2 = {r.doc_id for r in d.apply(b2).collect()}
    assert surv2 == {13}
    reps = {r.doc_id: r["representative_id"] for r in d.rejected(b2).select(
        "doc_id", "_rejection_details.representative_id").collect()}
    assert reps[10] == "1" and reps[11] == "1" and reps[12] == "2"
    d.update_store(b2)

    # re-append is harmless; a doc near 13's text is now rejected too
    d.update_store(b2)
    b3 = spark.createDataFrame(
        [(20, "an entirely novel document about gardening with tomatoes "
              "peppers cucumbers and a small patch of aromatic basil")],
        "doc_id long, text string",
    )
    assert d.apply(b3).count() == 0
    assert {"band_key", "representative_id"} <= set(spark.read.parquet(store).columns)


def test_incremental_minhash_batch_and_store_precedence(spark, tmp_path):
    """A doc that is BOTH an in-batch later duplicate and a store hit takes
    the stored representative (the historical corpus is earlier by
    definition), and the batch path alone still uses numeric-min ids."""
    from mega_data_factory_spark.operators.dedup import IncrementalMinHashDeduplicator

    store = str(tmp_path / "bands2")
    text = ("repeatable sentence with enough words to form several distinct "
            "shingles for the minhash signature computation to chew on here")
    d = IncrementalMinHashDeduplicator(store, id_col="doc_id", num_hashes=16, bands=4)
    d.update_store(spark.createDataFrame([(5, text)], "doc_id long, text string"))
    b = spark.createDataFrame([(9, text), (10, text)], "doc_id long, text string")
    reps = {r.doc_id: r["representative_id"] for r in d.rejected(b).select(
        "doc_id", "_rejection_details.representative_id").collect()}
    # both rows hit the store; 10 is also an in-batch dup of 9 — store wins
    assert reps == {9: "5", 10: "5"}
    assert d.apply(b).count() == 0


def test_incremental_key_dedup_arbitrary_key(spark, tmp_path):
    """IncrementalKeyDeduplicator: the seen-store works over any derived
    key column (here an image-phash-style fingerprint), across runs, with
    multi-key NULL safety inherited from KeyDeduplicator."""
    from mega_data_factory_spark.operators.dedup import IncrementalKeyDeduplicator

    store = str(tmp_path / "phash_store")
    d = IncrementalKeyDeduplicator(store, ["phash"], id_col="img_id")
    b1 = spark.createDataFrame(
        [(1, "aabb"), (2, "ccdd"), (3, "aabb")], "img_id long, phash string"
    )
    assert {r.img_id for r in d.apply(b1).collect()} == {1, 2}
    d.update_store(b1)

    b2 = spark.createDataFrame(
        [(10, "ccdd"), (11, "eeff")], "img_id long, phash string"
    )
    surv = {r.img_id for r in d.apply(b2).collect()}
    assert surv == {11}
    reps = {r.img_id: r["representative_id"] for r in d.rejected(b2).select(
        "img_id", "_rejection_details.representative_id").collect()}
    assert reps == {10: "2"}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        IncrementalKeyDeduplicator(store, [], id_col="img_id")


def test_compact_store_preserves_semantics(spark, tmp_path):
    """compact_store: replayed appends and per-run fragments collapse to
    one row per key with the SAME representative the consumers would pick;
    dedup results are identical before and after; row/file counts shrink."""
    import os

    from mega_data_factory_spark.operators.dedup import (
        IncrementalExactDeduplicator,
        compact_store,
    )

    store = str(tmp_path / "seen")
    d = IncrementalExactDeduplicator(store, id_col="doc_id")
    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id long, text string"
    )
    d.update_store(b1)
    # a replayed batch re-appends its keys verbatim (survivors=True is the
    # Pipeline path: the frame is already deduped, no store check first)
    d.update_store(b1, survivors=True)
    d.update_store(spark.createDataFrame([(3, "gamma text")], "doc_id long, text string"))
    assert spark.read.parquet(store).count() == 5  # 2 + 2 replayed + 1

    probe = spark.createDataFrame(
        [(10, "alpha text"), (11, "gamma text"), (12, "fresh text")],
        "doc_id long, text string",
    )
    before = {(r.doc_id, r["representative_id"]) for r in d.rejected(probe).select(
        "doc_id", "_rejection_details.representative_id").collect()}

    stats = compact_store(spark, store, target_files=1)
    assert stats["rows_before"] == 5 and stats["rows_after"] == 3
    assert len([f for f in os.listdir(store) if f.endswith(".parquet")]) == 1
    assert not os.path.exists(store + ".old") and not os.path.exists(store + ".compacting")

    after = {(r.doc_id, r["representative_id"]) for r in d.rejected(probe).select(
        "doc_id", "_rejection_details.representative_id").collect()}
    assert after == before == {(10, "1"), (11, "3")}


def test_incremental_key_dedup_null_key_cross_run(spark, tmp_path):
    """NULL single-column keys must dedup ACROSS runs exactly as they do
    in-batch (the NUL sentinel): run 2's NULL-key row is rejected against
    run 1's stored NULL-key representative."""
    from mega_data_factory_spark.operators.dedup import IncrementalKeyDeduplicator

    d = IncrementalKeyDeduplicator(str(tmp_path / "nk"), ["phash"], id_col="img_id")
    b1 = spark.createDataFrame([(1, None), (2, "aa")], "img_id long, phash string")
    assert {r.img_id for r in d.apply(b1).collect()} == {1, 2}
    d.update_store(b1)
    b2 = spark.createDataFrame([(10, None), (11, "")], "img_id long, phash string")
    surv = {r.img_id for r in d.apply(b2).collect()}
    assert surv == {11}  # NULL matched the store; "" is distinct from NULL


def test_compact_store_crash_window_recovers(spark, tmp_path):
    """A crash between compaction's two swaps leaves the data in .old; the
    consumers, a re-run and an append all recover it instead of reading an
    empty first-run store (which would re-admit every historical
    duplicate)."""
    import os

    from mega_data_factory_spark.operators.dedup import (
        IncrementalExactDeduplicator,
        compact_store,
    )

    store = str(tmp_path / "seen")
    d = IncrementalExactDeduplicator(store, id_col="doc_id")
    d.update_store(spark.createDataFrame([(1, "alpha text")], "doc_id long, text string"))
    # simulate the crash window: live dir moved to .old, new dir never landed
    os.replace(store, store + ".old")
    probe = spark.createDataFrame([(10, "alpha text")], "doc_id long, text string")
    assert d.apply(probe).count() == 0  # consumer recovered the store
    os.replace(store, store + ".old")
    stats = compact_store(spark, store, target_files=1)
    assert stats["rows_after"] == 1  # compaction recovered and ran
    # an append in the crash window recovers first, never orphaning .old
    os.replace(store, store + ".old")
    d.update_store(spark.createDataFrame([(2, "beta text")], "doc_id long, text string"), survivors=True)
    assert not os.path.exists(store + ".old")
    assert sorted(r.representative_id for r in spark.read.parquet(store).collect()) == ["1", "2"]


def test_store_growth_is_monitorable_in_metrics(spark, tmp_path):
    """The fourth metrics level (stores): each config-driven run with an
    incremental dedup appends a post_update row (rows/files/bytes of the
    store as left), and the compact-store CLI with --metrics appends a
    compaction row carrying rows_before — so a long-running ingestion
    watches its seen-state and schedules compaction from the metrics
    table (VERDICT r7 #7; reference bucket-sizing guidance analog,
    framework/backend.py:83-93)."""
    import json

    from mega_data_factory_spark.__main__ import main
    from mega_data_factory_spark.config import PipelineConfig, SinkConfig
    from mega_data_factory_spark.operators.dedup import store_stats
    from mega_data_factory_spark.plans.pipeline import Pipeline

    store = str(tmp_path / "mh_store")
    metrics = str(tmp_path / "metrics")

    def cfg_for(view: str, out: str) -> PipelineConfig:
        cfg = PipelineConfig.from_dict(
            {
                "pipeline": {
                    "name": "incr_mh",
                    "id_col": "doc_id",
                    "metrics_path": metrics,
                    "source": {"table": view},
                    "stages": [
                        {"name": "dedup", "operators": [
                            {"name": "IncrementalMinHashDeduplicator",
                             "params": {"store_path": store, "id_col": "doc_id",
                                        "shingle_n": 2, "num_hashes": 16, "bands": 4}},
                        ]},
                    ],
                }
            }
        )
        cfg.sink = SinkConfig(path=str(tmp_path / out))
        return cfg

    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "a completely different second document about spark plans")],
        "doc_id long, text string",
    ).createOrReplaceTempView("mh_run1")
    Pipeline(cfg_for("mh_run1", "out1")).run(spark)
    spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),  # near-dup of 1
         (11, "an entirely new third document mentioning window functions")],
        "doc_id long, text string",
    ).createOrReplaceTempView("mh_run2")
    Pipeline(cfg_for("mh_run2", "out2")).run(spark)

    rows = {r.run_id: r for r in spark.read.parquet(f"{metrics}/stores").collect()}
    assert len(rows) == 2 and all(r.event == "post_update" for r in rows.values())
    by_time = sorted(rows.values(), key=lambda r: r.timestamp)
    # the band store grows run over run, and the metrics match reality
    assert 0 < by_time[0].rows <= by_time[1].rows
    live = store_stats(spark, store)
    assert by_time[1].rows == live["rows"] and by_time[1].files == live["files"]
    assert by_time[1].bytes == live["bytes"] > 0

    # compaction through the CLI appends the third row with rows_before
    assert main(["compact-store", "-s", store, "--metrics", metrics, "--target-files", "1"]) == 0
    events = spark.read.parquet(f"{metrics}/stores").orderBy("timestamp").collect()
    assert [e.event for e in events] == ["post_update", "post_update", "compaction"]
    comp = events[-1]
    assert comp.rows_before == by_time[1].rows and 0 < comp.rows <= comp.rows_before
    assert comp.files == 1  # target_files honored, visible in the metrics


def test_legacy_string_band_store_guarded_and_migrated(spark, tmp_path):
    """Round-12 advice (high): a pre-round-11 band store carries the
    'b_m1,m2,...' signature STRING as band_key. Reading it with the
    long-key code would silently re-admit every historical near-duplicate
    (non-ANSI long-vs-string join casts both sides to double -> NULL), and
    update_store would append long-typed files into the string-typed
    directory. Both paths must hard-fail with a migration hint; the
    one-shot migration must reproduce the EXACT keys current writers emit
    (the long key IS hash64_from_md5 of the legacy string key)."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.functions.hashing import hash64_from_md5
    from mega_data_factory_spark.functions.text import word_shingles
    from mega_data_factory_spark.operators.dedup import (
        IncrementalMinHashDeduplicator,
        migrate_band_store,
        minhash_hash_family,
    )

    store = str(tmp_path / "legacy_bands")
    num_hashes, bands, shingle_n = 16, 8, 3
    rows_per_band = num_hashes // bands
    text = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest before the hunters arrive")
    hist = spark.createDataFrame([(1, text)], "doc_id long, text string")

    # Build the store exactly as PRE-FOLD code did: same shingle/minhash
    # expressions, band key left as the signature string (the fold's input).
    exploded = hist.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles("text", shingle_n))).alias("__s"),
    ).select("doc_id", hash64_from_md5("__s").alias("__bh"))
    sig = exploded.groupBy("doc_id").agg(
        *[F.min(minhash_hash_family(F.col("__bh"), i)).alias(f"__m{i}")
          for i in range(num_hashes)]
    )
    legacy_keys = F.array(*[
        F.concat_ws(
            "_",
            F.lit(b),
            F.concat_ws(",", *[
                F.col(f"__m{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ]),
        )
        for b in range(bands)
    ])
    sig.select(
        F.explode(legacy_keys).alias("band_key"),
        F.col("doc_id").cast("string").alias("representative_id"),
    ).write.parquet(store)

    d = IncrementalMinHashDeduplicator(
        store, id_col="doc_id", num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
    )
    batch = spark.createDataFrame(
        [(10, text.replace("green forest", "green woods"))],
        "doc_id long, text string",
    )
    # read path fails loudly, not empty-admits
    with pytest.raises(ValueError, match="migrate_band_store"):
        d.apply(batch).count()
    # append path fails loudly too (survivors=True never reads via apply)
    with pytest.raises(ValueError, match="migrate_band_store"):
        d.update_store(batch, survivors=True)

    # migration folds to the exact keys the current writer emits
    res = migrate_band_store(spark, store)
    assert res["migrated"] is True
    migrated = {(r.band_key, r.representative_id)
                for r in spark.read.parquet(store).collect()}
    native = {(r.band_key, r.representative_id)
              for r in d._band_ids(hist).groupBy(
                  F.col("__band_key").alias("band_key")
              ).agg(F.min(F.col("doc_id").cast("string")).alias("representative_id")
              ).collect()}
    assert migrated == native
    assert spark.read.parquet(store).schema["band_key"].simpleString().endswith("bigint")

    # post-migration: historical near-dup rejected with the stored rep
    reps = {r.doc_id: r["representative_id"] for r in d.rejected(batch).select(
        "doc_id", "_rejection_details.representative_id").collect()}
    assert reps == {10: "1"}
    # idempotent: an already-long store is a no-op
    assert migrate_band_store(spark, store) == {
        "migrated": False, "reason": "already long-keyed"}


def test_update_store_recovers_crash_window_before_append(spark, tmp_path):
    """Round-12 review: a compaction/migration crash between its two
    directory swaps leaves the store in `.old` with the live path
    missing. update_store(survivors=True) must RECOVER first — treating
    that window as first-run would recreate the directory with only the
    new batch's bands, permanently orphaning the historical store."""
    import os
    import shutil

    from mega_data_factory_spark.operators.dedup import IncrementalMinHashDeduplicator

    store = str(tmp_path / "crashy_bands")
    text = ("a reasonably long document with enough distinct words to make "
            "several shingles for minhash banding across the signature")
    d = IncrementalMinHashDeduplicator(store, id_col="doc_id", num_hashes=16, bands=8)
    hist = spark.createDataFrame([(1, text)], "doc_id long, text string")
    d.update_store(hist, survivors=True)
    n_hist = spark.read.parquet(store).count()

    # simulate the crash window: live path gone, data in .old
    shutil.move(store, store + ".old")
    assert not os.path.exists(store)

    # fresh instance (no memoized validation) appends a new batch
    d2 = IncrementalMinHashDeduplicator(store, id_col="doc_id", num_hashes=16, bands=8)
    batch = spark.createDataFrame(
        [(2, "entirely different content about orchard pruning schedules "
             "and the seasonal grafting of heirloom apple varieties")],
        "doc_id long, text string",
    )
    d2.update_store(batch, survivors=True)

    # historical bands survived the crash window AND the new ones landed
    rows = spark.read.parquet(store)
    reps = {r.representative_id for r in rows.select("representative_id").distinct().collect()}
    assert reps == {"1", "2"}
    assert rows.count() > n_hist
    assert not os.path.exists(store + ".old")  # recovery consumed .old
    # and doc 1's near-dup is still rejected against the recovered store
    neardup = spark.createDataFrame(
        [(9, text.replace("signature", "signatures"))], "doc_id long, text string"
    )
    assert d2.apply(neardup).count() == 0


def test_seen_store_first_run_never_reaches_the_reader(spark, tmp_path):
    """A missing local store directory is the empty first-run store
    without a parquet read, whose file-not-found would log a stack trace
    at WARN; an existing empty directory still reads as empty through the
    reader's AnalysisException."""
    from mega_data_factory_spark.operators.dedup import SeenStore

    class NoReader:
        @property
        def read(self):
            raise AssertionError("the parquet reader was called for a missing store")

    store = SeenStore(str(tmp_path / "never_written"), "content_key", "string")
    assert store.read(NoReader()) is None
    (tmp_path / "empty").mkdir()
    assert SeenStore(str(tmp_path / "empty"), "content_key", "string").read(spark) is None
