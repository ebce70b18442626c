"""The tag contract (operators/base.py): one ``tag`` per operator serves
the pipeline, the streaming runner and standalone ``apply``/``rejected``;
a Filter's or Deduplicator's builds its expressions once per input schema,
and a Refiner's is its ``apply`` projection gated on the alive rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from mega_data_factory_spark.config import PipelineConfig
from mega_data_factory_spark.operators.base import REJECTION_STRUCT_DDL, Refiner, rejection_details_sql
from mega_data_factory_spark.operators.dedup import KeyDeduplicator, TextExactDeduplicator
from mega_data_factory_spark.plans.pipeline import Pipeline
from mega_data_factory_spark.registry import OPERATORS


def _rejections(df):
    return sorted(
        (r.rid, r.ord, r.k, r.dk, r.rep)
        for r in df.select(
            "rid", "ord", "k", F.col("_rejection_details.dedup_key").alias("dk"),
            F.col("_rejection_details.representative_id").alias("rep"),
        ).collect()
    )


def test_rejected_names_min_order_representative_when_id_is_not_order(spark):
    """With ``id_col != order_col`` the window tag names the min-order
    row's id as representative, a NULL-order row survives without
    representing anyone, and ``rejected``/``apply`` keep the input's
    column order."""
    df = spark.createDataFrame(
        [
            ("r1", 30, "a", b"\x00" * 32), ("r2", 10, "a", b"\x01"), ("r3", 20, "a", b"\x02"),
            ("r4", 5, "b", b"\x03"), ("r5", 7, "b", b"\x04"), ("r6", 1, None, b"\x05"),
            ("r7", 2, None, b"\x06"), ("r8", None, "a", b"\x07"), ("r9", 40, "c", b"\x08"),
        ],
        "rid string, ord long, k string, payload binary",
    )
    d = KeyDeduplicator(["k"], order_col="ord", id_col="rid")
    rejected = d.rejected(df)
    assert [(r[0], r[4]) for r in _rejections(rejected)] == [("r1", "r2"), ("r3", "r2"), ("r5", "r4"), ("r7", "r6")]
    assert rejected.columns == [*df.columns, "_rejection_details"]
    survivors = d.apply(df)
    assert survivors.columns == df.columns
    assert sorted(r.rid for r in survivors.collect()) == ["r2", "r4", "r6", "r8", "r9"]


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_standalone_dedup_plans_window_group_limit_with_null_order_rows(spark):
    """A standalone key dedup's survivors plan a partial WindowGroupLimit
    below the shuffle even when NULL-order rows are present: their shared
    key is a constant, not a per-row nondeterministic id. Every NULL-order
    row survives and none is named as a representative."""
    docs = spark.createDataFrame(
        [
            (None, "same text"), (1, "same text"), (2, "same  text"), (None, "other"),
            (3, "other"), (4, "unique"), (None, "same text"),
        ],
        "doc_id long, text string",
    )
    text = TextExactDeduplicator(id_col="doc_id")
    kept = text.apply(docs)
    assert "WindowGroupLimit" in _executed_plan(kept)
    ids = [r.doc_id for r in kept.collect()]
    assert sorted(i for i in ids if i is not None) == [1, 3, 4] and ids.count(None) == 3
    reps = [(r.doc_id, r.rep) for r in text.rejected(docs).select(
        "doc_id", F.col("_rejection_details.representative_id").alias("rep")).collect()]
    assert reps == [(2, "1")]

    rows = spark.createDataFrame(
        [
            ("a1", None, "a"), ("a2", 1, "a"), ("a3", 2, "a"), ("n1", None, None),
            ("n2", 3, None), ("n3", 4, None), ("b1", None, "b"),
        ],
        "rid string, ord long, k string",
    )
    no_order = {"a1", "n1", "b1"}
    for null_keys, survivors, dups in [
        ("group", ["a1", "a2", "b1", "n1", "n2"], [("a3", "a2"), ("n3", "n2")]),
        ("distinct", ["a1", "a2", "b1", "n1", "n2", "n3"], [("a3", "a2")]),
    ]:
        d = KeyDeduplicator(["k"], order_col="ord", id_col="rid", null_keys=null_keys)
        kept = d.apply(rows)
        assert "WindowGroupLimit" in _executed_plan(kept), null_keys
        assert sorted(r.rid for r in kept.collect()) == survivors
        assert no_order <= set(survivors)
        rejected = [(r.rid, r.rep) for r in d.rejected(rows).select(
            "rid", F.col("_rejection_details.representative_id").alias("rep")).collect()]
        assert sorted(rejected) == dups
        assert not no_order & {rep for _, rep in rejected}


def _tagged(df):
    return sorted(
        (
            (r.id, r.reason, r.dk, r.rep)
            for r in df.filter("_rejection_details IS NOT NULL").select(
                F.col("rid").alias("id"), F.col("_rejection_details.reason").alias("reason"),
                F.col("_rejection_details.dedup_key").alias("dk"),
                F.col("_rejection_details.representative_id").alias("rep"),
            ).collect()
        ),
        key=repr,
    )


def test_window_tag_invariant_to_shuffle_layout_and_input_order(spark):
    """The window tag is a function of the rows alone: standalone
    ``rejected`` and the pipeline's ``apply_ops`` tag the same
    (id, dedup_key, representative_id) rows at 1 and 7 shuffle
    partitions, with AQE on and off, and with the input reversed over
    three partitions. The frame has NULL-key, NULL-order and pre-dead
    rows, ties on order_col, and ``id_col != order_col``. Tie rule: every
    row tied first survives, and a later row's representative is the
    tied-first row with the least id."""
    rows = [
        ("r1", 10, "a", None), ("r2", 10, "a", None), ("r3", 20, "a", None),
        ("r4", 5, "a", "EarlierOp"), ("r5", None, "a", None), ("r6", None, "a", None),
        ("r7", 1, None, None), ("r8", 2, None, None),
        ("r9", 3, "b", None), ("r10", 3, "b", None), ("r11", 30, "b", None),
    ]
    schema = "rid string, ord long, k string, pre string"
    cfg = PipelineConfig.from_dict(
        {
            "pipeline": {
                "name": "invariance",
                "id_col": "rid",
                "source": {"table": "unused"},
                "operators": [
                    {"name": "KeyDeduplicator",
                     "params": {"key_cols": ["k"], "order_col": "ord", "id_col": "rid", "name": "KeyDedup"}},
                ],
            }
        }
    )
    pipe = Pipeline(cfg)
    standalone = KeyDeduplicator(["k"], order_col="ord", id_col="rid", name="KeyDedup")

    def run(data, parts):
        df = _pre_tagged(spark, data, schema, parts)
        return _tagged(standalone.rejected(df)), _tagged(pipe.apply_ops(df))

    # standalone: every row is alive, so r4 (ord 5) represents group "a"
    want_rejected = sorted(
        [
            ("r1", "duplicate", "a", "r4"), ("r2", "duplicate", "a", "r4"), ("r3", "duplicate", "a", "r4"),
            ("r8", "duplicate", None, "r7"), ("r11", "duplicate", "b", "r10"),
        ],
        key=repr,
    )
    # pipeline: r4 arrives dead, so r1/r2 tie first and both survive
    want_pipeline = sorted(
        [
            ("r3", "duplicate", "a", "r1"), ("r4", "filtered", None, None),
            ("r8", "duplicate", None, "r7"), ("r11", "duplicate", "b", "r10"),
        ],
        key=repr,
    )

    def check(leg):
        assert run(rows, 1) == (want_rejected, want_pipeline), leg
        assert run(rows[::-1], 3) == (want_rejected, want_pipeline), leg

    _each_shuffle_layout(spark, check)


def test_store_dedup_tag_invariant_and_caches_nothing_mid_plan(spark, tmp_path):
    """A store-backed key dedup is the window tag behind one store lookup:
    with a non-empty store (a replayed append included), standalone
    ``rejected`` and the pipeline's ``apply_ops`` tag the same
    (id, dedup_key, representative_id) rows at 1 and 7 shuffle partitions,
    with AQE on and off, for both ``null_keys`` modes; store hits carry
    the stored (least) representative, pre-dead rows are never looked up,
    and the pipeline caches nothing mid-plan for it."""
    from mega_data_factory_spark.operators.dedup import IncrementalKeyDeduplicator

    schema = "rid string, k string, pre string"
    rows = [
        ("p1", "a", None), ("p2", "b", "EarlierOp"), ("p3", "b", None), ("p4", "b", None),
        ("p5", None, None), ("p6", None, None), ("p7", "d", "EarlierOp"), ("p8", "c", None), ("p9", "c", None),
    ]
    hit_nulls = [("p5", "duplicate", "\x00", "h2"), ("p6", "duplicate", "\x00", "h2")]
    want_rejected = [
        ("p1", "duplicate", "a", "h1"), ("p3", "duplicate", "b", "p2"), ("p4", "duplicate", "b", "p2"),
        ("p7", "duplicate", "d", "h3"), ("p9", "duplicate", "c", "p8"),
    ]
    want_pipeline = [
        ("p1", "duplicate", "a", "h1"), ("p2", "filtered", None, None), ("p4", "duplicate", "b", "p3"),
        ("p7", "filtered", None, None), ("p9", "duplicate", "c", "p8"),
    ]
    for null_keys in ("group", "distinct"):
        store = str(tmp_path / null_keys)
        params = {"store_path": store, "key_cols": ["k"], "id_col": "rid", "null_keys": null_keys, "name": "Seen"}
        standalone = IncrementalKeyDeduplicator(**params)
        history = spark.createDataFrame([("h1", "a"), ("h2", None), ("h3", "d")], "rid string, k string")
        standalone.update_store(history, survivors=True)
        replay = spark.createDataFrame([("h9", "a")], "rid string, k string")
        standalone.update_store(replay, survivors=True)
        pipe = Pipeline(PipelineConfig.from_dict({"pipeline": {
            "name": "store_invariance", "id_col": "rid", "source": {"table": "unused"},
            "operators": [{"name": "IncrementalKeyDeduplicator", "params": params}],
        }}))
        # a NULL key is one stored identity under "group", none under "distinct"
        extra = hit_nulls if null_keys == "group" else []
        want = (sorted(want_rejected + extra, key=repr), sorted(want_pipeline + extra, key=repr))

        def run(data, parts):
            df = _pre_tagged(spark, data, schema, parts)
            return _tagged(standalone.rejected(df)), _tagged(pipe.apply_ops(df))

        def check(leg):
            assert run(rows, 1) == want, (null_keys, leg)
            assert run(rows[::-1], 3) == want, (null_keys, leg)
            assert pipe._mid_cached == [], (null_keys, leg)

        _each_shuffle_layout(spark, check)


def _pre_tagged(spark, data, schema, parts):
    """``data`` over ``parts`` partitions with a ``_rejection_details``
    column: rows whose ``pre`` names an operator arrive dead ('filtered')."""
    return (
        spark.createDataFrame(data, schema).repartition(parts)
        .withColumn(
            "_rejection_details",
            F.when(
                F.col("pre").isNotNull(),
                F.expr("named_struct('reason', 'filtered', 'operator', pre, "
                       "'dedup_key', NULL, 'representative_id', NULL)").cast(REJECTION_STRUCT_DDL),
            ),
        )
        .drop("pre")
    )


def _each_shuffle_layout(spark, check):
    """``check((shuffle partitions, AQE))`` at 1 and 7 partitions, AQE on
    and off, with the session set to each; restores the session after."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for partitions in ("1", "7"):
            for aqe in ("true", "false"):
                spark.conf.set("spark.sql.shuffle.partitions", partitions)
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
                check((partitions, aqe))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_tag_expressions_build_once_per_schema(spark):
    """The pipeline loop the streaming runner calls per micro-batch builds
    a Filter's and a key Deduplicator's tag expression once for two frames
    of one schema, and again for a new schema; the reused expressions bind
    to each frame's own rows."""
    cfg = PipelineConfig.from_dict(
        {
            "pipeline": {
                "name": "memo",
                "id_col": "doc_id",
                "source": {"table": "unused"},
                "operators": [
                    {"name": "TextLengthFilter", "params": {"min_length": 3}},
                    {"name": "TextExactDeduplicator", "params": {"id_col": "doc_id"}},
                ],
            }
        }
    )
    pipe = Pipeline(cfg)
    (_, filt), (_, dedup) = pipe._ops
    calls = {"predicate_sql": 0, "key_sql": 0}

    def counted(op, name):
        built = getattr(op, name)

        def wrapper(df):
            calls[name] += 1
            return built(df)

        setattr(op, name, wrapper)

    counted(filt, "predicate_sql")
    counted(dedup, "key_sql")

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def survivors(df):
        return sorted(r.doc_id for r in pipe.apply_ops(df).filter("_rejection_details IS NULL").collect())

    assert survivors(batch([(1, "abc"), (2, "abc"), (3, "x")])) == [1]
    assert survivors(batch([(4, "defg"), (5, "hij"), (6, "defg")])) == [4, 5]
    assert calls == {"predicate_sql": 1, "key_sql": 1}
    wider = batch([(7, "abc"), (8, "xyz")]).withColumn("lang", F.lit("en"))
    assert survivors(wider) == [7, 8]
    assert calls == {"predicate_sql": 2, "key_sql": 2}


def test_refiners_that_override_apply_override_tag():
    """The pipeline runs a Refiner through ``tag``, which is the column
    hooks' projection: a registered Refiner that overrides ``apply`` alone
    would be silently bypassed inside every pipeline."""
    def owner(c, attr):
        return next(k for k in c.__mro__ if attr in k.__dict__)

    refiners = [c for c in map(OPERATORS.get, OPERATORS.names()) if issubclass(c, Refiner)]
    overriding = [c for c in refiners if owner(c, "apply") is not Refiner]
    assert {"RepetitionStatsRefiner", "BoilerplateLineRefiner", "PerplexityBucketRefiner"} <= {
        c.__name__ for c in overriding
    }
    for c in overriding:
        assert "tag" in owner(c, "apply").__dict__, f"{c.__name__} overrides apply without tag"


def test_full_frame_refiners_in_a_pipeline_match_apply_on_alive_rows(spark):
    """The refiners whose ``tag`` is a full-frame transform give, on the
    alive rows of ``Pipeline.apply_ops``, what standalone ``apply`` gives
    over the alive rows: a pre-rejected row neither votes on corpus-wide
    line counts or percentile cuts nor changes a row-local statistic."""
    cookie = "Accept all cookies to continue"
    texts = {
        1: f"{cookie}\nthe dead document repeats repeats repeats words",
        2: f"{cookie}\nalpha beta gamma alpha beta gamma delta",
        3: f"{cookie}\nsome prose about rivers and the sea and the sea",
        4: "a short note without the banner at all today",
        5: f"{cookie}\nfinal document words words words and more words",
    }
    df = spark.createDataFrame(
        [(i, t, float(i * i), "en" if i % 2 else "de") for i, t in texts.items()],
        "doc_id long, text string, score double, lang string",
    )
    dead = F.when(F.col("doc_id") == 1, F.expr(rejection_details_sql("filtered", "Pre"))).otherwise(
        F.lit(None).cast(REJECTION_STRUCT_DDL)
    )
    ops = [
        ("RepetitionStatsRefiner", {"long_docs": True}, ["dup_word_ratio", "top_bigram_ratio"]),
        ("BoilerplateLineRefiner", {"min_doc_frac": 0.5, "min_docs": 3}, ["text_cleaned", "boilerplate_lines_removed"]),
        ("PerplexityBucketRefiner", {"score_col": "score", "cuts": (0.5,), "labels": ("lo", "hi")}, ["ppl_bucket"]),
    ]
    for name, params, outputs in ops:
        pipe = Pipeline(
            PipelineConfig.from_dict(
                {"pipeline": {"name": "t", "source": {"table": "t"}, "operators": [{"name": name, "params": params}]}}
            )
        )
        tagged = pipe.apply_ops(df.withColumn("_rejection_details", dead))
        got = sorted(tagged.filter("_rejection_details IS NULL").select("doc_id", *outputs).collect())
        want = sorted(OPERATORS.create(name, params).apply(df.filter("doc_id <> 1")).select("doc_id", *outputs).collect())
        assert got == want, name
        assert [r.doc_id for r in got] == [2, 3, 4, 5], name


def _plan_nodes_with(df, needle: str) -> int:
    """Nodes of ``df``'s optimized plan whose expressions contain ``needle``."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(needle in line for line in plan.splitlines())


def test_dedup_key_is_evaluated_in_one_plan_node(spark, tmp_path):
    """The effective key is bound once per tag: the store lookup, the
    window and the rejection struct read it by name, so each optimized
    plan computes the md5 in exactly one node, and ``dedup_key`` still
    names the content key of store hits and in-batch duplicates alike."""
    import hashlib

    from mega_data_factory_spark.operators.dedup import IncrementalExactDeduplicator

    rows = [
        (1, "alpha beta", None), (2, "alpha beta", None), (3, "gamma", None), (4, "gamma", "Pre"),
        (5, "gamma", None), (6, None, None), (7, "delta", None),
    ]
    tagged = _pre_tagged(spark, rows, "doc_id long, text string, pre string", 2)
    plain = tagged.drop("_rejection_details")
    seen = IncrementalExactDeduplicator(str(tmp_path / "seen"), id_col="doc_id")
    seen.update_store(spark.createDataFrame([(70, "delta")], "doc_id long, text string"), survivors=True)

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    def rejections(df):
        return sorted(
            (r.doc_id, r._rejection_details.reason, r._rejection_details.dedup_key, r._rejection_details.representative_id)
            for r in df.filter("_rejection_details IS NOT NULL").collect()
        )

    ab, g, d = md5("alpha beta"), md5("gamma"), md5("delta")
    pre = (4, "filtered", None, None)
    cases = {
        "TextExactDeduplicator.tag": (
            TextExactDeduplicator(id_col="doc_id").tag(tagged),
            [(2, "duplicate", ab, "1"), pre, (5, "duplicate", g, "3")],
        ),
        "IncrementalExactDeduplicator.tag": (
            seen.tag(tagged),
            [(2, "duplicate", ab, "1"), pre, (5, "duplicate", g, "3"), (7, "duplicate", d, "70")],
        ),
        "IncrementalExactDeduplicator.rejected": (
            seen.rejected(plain),
            [(2, "duplicate", ab, "1"), (4, "duplicate", g, "3"), (5, "duplicate", g, "3"), (7, "duplicate", d, "70")],
        ),
    }
    for name, (df, want) in cases.items():
        assert _plan_nodes_with(df, "md5(") == 1, name
        assert rejections(df) == want, name
        assert not any(c.startswith("__") for c in df.columns), name


def test_struct_refiners_tag_evaluates_the_struct_once(spark):
    """``LanguageIdRefiner`` and ``QualityScoreRefiner`` emit their result
    struct once and read its fields by name, so the alive-gated ``tag``
    runs each marker or stopword regex once per row — the same count as
    ``apply`` — with the dead row NULL and the alive rows equal to
    ``apply``."""
    import re

    from mega_data_factory_spark.operators.refiners import (
        DEFAULT_STOPWORDS,
        LANG_MARKERS,
        LanguageIdRefiner,
        QualityScoreRefiner,
    )

    rows = [(1, "the cat and a dog", None), (2, "el perro de la casa", "Pre"), (3, "der und das die", None), (4, None, None)]
    tagged = _pre_tagged(spark, rows, "doc_id long, text string, pre string", 2)
    plain = tagged.drop("_rejection_details")
    n_markers = sum(len(ws) for ws in LANG_MARKERS.values())
    for op, n_regex in ((LanguageIdRefiner(), n_markers), (QualityScoreRefiner(), len(DEFAULT_STOPWORDS))):
        name = type(op).__name__
        for mode, df in (("tag", op.tag(tagged)), ("apply", op.apply(plain))):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            # each whole-word count is one `\bword\b` pattern literal
            assert len(re.findall(r"\\b[a-z]+\\b", plan)) == n_regex, (name, mode)
        cols = [c for c in op.apply(plain).columns if c not in plain.columns]
        got = {r.doc_id: tuple(r[c] for c in cols) for r in op.tag(tagged).collect()}
        want = {r.doc_id: tuple(r[c] for c in cols) for r in op.apply(plain).collect()}
        assert got[2] == (None, None), name
        assert {k: v for k, v in got.items() if k != 2} == {k: v for k, v in want.items() if k != 2}, name
        assert op.tag(tagged).columns == [*tagged.columns, *cols], name
