"""The tag contract (operators/base.py): one ``tag`` per Filter and
Deduplicator serves the pipeline, the streaming runner and standalone
``apply``/``rejected``, and builds its expressions once per input schema."""

from __future__ import annotations

from pyspark.sql import functions as F

from mega_data_factory_spark.config import PipelineConfig
from mega_data_factory_spark.operators.dedup import KeyDeduplicator
from mega_data_factory_spark.plans.pipeline import Pipeline


def _rejections(df):
    return sorted(
        (r.rid, r.ord, r.k, r.dk, r.rep)
        for r in df.select(
            "rid", "ord", "k", F.col("_rejection_details.dedup_key").alias("dk"),
            F.col("_rejection_details.representative_id").alias("rep"),
        ).collect()
    )


def test_wide_payload_rejected_elects_when_id_is_not_order(spark):
    """With ``id_col != order_col`` the standalone wide-payload path still
    elects winners on the narrow projection (representative = the min-order
    row's id): the same rejected rows, keys and representatives as the
    window path, and no row window over the payload-carrying rows."""
    df = spark.createDataFrame(
        [
            ("r1", 30, "a", b"\x00" * 32), ("r2", 10, "a", b"\x01"), ("r3", 20, "a", b"\x02"),
            ("r4", 5, "b", b"\x03"), ("r5", 7, "b", b"\x04"), ("r6", 1, None, b"\x05"),
            ("r7", 2, None, b"\x06"), ("r8", None, "a", b"\x07"), ("r9", 40, "c", b"\x08"),
        ],
        "rid string, ord long, k string, payload binary",
    )
    window = KeyDeduplicator(["k"], order_col="ord", id_col="rid")
    wide = KeyDeduplicator(["k"], order_col="ord", id_col="rid")
    wide.wide_payload = True
    expected = _rejections(window.rejected(df))
    assert [(r[0], r[4]) for r in expected] == [("r1", "r2"), ("r3", "r2"), ("r5", "r4"), ("r7", "r6")]
    rejected = wide.rejected(df)
    assert _rejections(rejected) == expected
    assert rejected.columns == [*df.columns, "_rejection_details"]
    assert "row_number" not in rejected._jdf.queryExecution().optimizedPlan().toString()
    survivors = wide.apply(df)
    assert survivors.columns == df.columns
    assert sorted(r.rid for r in survivors.collect()) == ["r2", "r4", "r6", "r8", "r9"]


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
