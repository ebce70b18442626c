"""SequencePacker: DuckDB-differential assignment + packing invariants."""

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql

H64 = "CAST(('0x' || substr(md5({v}), 1, 15)) AS BIGINT)"
NORM_NOLOWER = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
TOKENS = (
    f"(CASE WHEN {NORM_NOLOWER} IS NULL OR length({NORM_NOLOWER}) = 0 THEN 0 "
    f"ELSE length({NORM_NOLOWER}) - length(replace({NORM_NOLOWER}, ' ', '')) + 1 END)"
)


def test_packing_matches_oracle(spark):
    """Bucketed concat-then-chunk coordinates over the real documents
    corpus match the windowed-SQL formulation value-for-value."""
    from mega_data_factory_spark.operators.packing import SequencePacker
    from mega_data_factory_spark.session import load_tables

    seq_len, buckets = 128, 8
    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"]
    p = SequencePacker(seq_len, buckets=buckets)
    out = p.apply(docs).select("doc_id", "pack_bucket", "seq_id", "seq_offset").orderBy("doc_id")
    b = H64.format(v="CAST(doc_id AS VARCHAR)") + f" % {buckets}"
    sql = f"""
WITH toks AS (
  SELECT doc_id, CAST({b} AS INT) AS pack_bucket, CAST({TOKENS} AS BIGINT) AS tok
  FROM documents
),
packed AS (
  SELECT doc_id, pack_bucket,
         SUM(tok) OVER (PARTITION BY pack_bucket ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS strt
  FROM toks WHERE tok > 0
)
SELECT doc_id, pack_bucket,
       CAST(FLOOR(strt / {seq_len}) AS BIGINT) AS seq_id,
       CAST(strt % {seq_len} AS BIGINT) AS seq_offset
FROM packed ORDER BY doc_id
"""
    assert_df_matches_sql(out, sql, name="sequence_packing")


def test_packing_invariants(spark):
    """Every sequence except possibly the last per bucket is full
    (concat-then-chunk has no intra-bucket waste); offsets stay inside
    seq_len; assignment is deterministic across runs AND partitionings."""
    from mega_data_factory_spark.operators.packing import SequencePacker
    from mega_data_factory_spark.session import load_tables

    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"]
    p = SequencePacker(256, buckets=4)
    a = p.apply(docs).select("doc_id", "pack_bucket", "seq_id", "seq_offset")
    rows = a.collect()
    assert all(0 <= r.seq_offset < 256 for r in rows)
    # per bucket: total tokens == max chunk start + last residue -> chunks
    # are contiguous (no gaps): check max seq_id == floor((total-1)/256)
    from mega_data_factory_spark.functions.text import token_count

    stats = {
        r.pack_bucket: (r.total, r.last_tok)
        for r in p.apply(docs)
        .withColumn("__t", token_count("text"))
        .groupBy("pack_bucket")
        .agg(
            F.sum("__t").alias("total"),
            # token count of the max-id doc = the last-packed doc
            F.max_by("__t", F.col("doc_id")).alias("last_tok"),
        )
        .collect()
    }
    max_seq = {
        r.pack_bucket: r.m
        for r in a.groupBy("pack_bucket").agg(F.max("seq_id").alias("m")).collect()
    }
    for b, (total, last_tok) in stats.items():
        # the last doc STARTS at total - last_tok; cumsum has no gaps, so
        # the highest assigned chunk is exactly that start's chunk
        assert max_seq[b] == (total - last_tok) // 256
    # partition-independence: a repartitioned input packs identically
    b2 = {
        (r.doc_id): (r.pack_bucket, r.seq_id, r.seq_offset)
        for r in p.apply(docs.repartition(13)).collect()
    }
    assert b2 == {r.doc_id: (r.pack_bucket, r.seq_id, r.seq_offset) for r in rows}


def test_sequences_view(spark):
    """The aggregate shard view: member ids are offset-ordered, token
    totals add up, singleton long docs span multiple seq_ids' worth of
    tokens but appear once."""
    from mega_data_factory_spark.operators.packing import SequencePacker

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in [(1, 10), (2, 10), (3, 25), (4, 3), (5, 0)]],
        "doc_id long, text string",
    )
    p = SequencePacker(16, buckets=1, id_col="doc_id")
    seqs = {r.seq_id: r for r in p.sequences(docs).collect()}
    all_ids = [i for r in sorted(seqs.values(), key=lambda r: r.seq_id) for i in r.doc_ids]
    assert sorted(all_ids) == [1, 2, 3, 4]  # empty doc 5 dropped
    assert sum(r.n_tokens for r in seqs.values()) == 48
    # doc 1 starts at 0 (seq 0); doc 2 at 10 (seq 0); doc 3 at 20 (seq 1); doc 4 at 45 (seq 2)
    assert seqs[0].doc_ids == [1, 2] and seqs[1].doc_ids == [3] and seqs[2].doc_ids == [4]


def test_packer_is_yaml_constructible(spark):
    """Registry + config path: a pipeline stage can declare the packer
    like any other operator and the packed columns appear on the output."""
    from mega_data_factory_spark.config import PipelineConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    cfg = PipelineConfig.from_dict(
        {
            "pipeline": {
                "name": "pack",
                "source": {"path": "unused"},
                "operators": [
                    {"name": "SequencePacker", "params": {"seq_len": 64, "buckets": 2}}
                ],
            }
        }
    )
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 10)) for i in range(20)], "doc_id long, text string"
    )
    from mega_data_factory_spark.operators.base import REJECTION_DETAILS_COL

    docs = docs.withColumn(
        REJECTION_DETAILS_COL,
        F.lit(None).cast("struct<reason:string,operator:string,dedup_key:string,representative_id:string>"),
    )
    for _, op in Pipeline(cfg)._ops:
        out = op.apply(docs)
    assert {"pack_bucket", "seq_id", "seq_offset"} <= set(out.columns)
    assert out.count() == 20


def test_packer_preserves_tagged_rows(spark):
    """Inside a tagged pipeline the packer must drop NOTHING: rejected and
    empty rows get NULL coordinates and consume no token budget, alive
    rows pack contiguously as if the dead rows were absent."""
    from mega_data_factory_spark.operators.base import REJECTION_DETAILS_COL, rejection_details_sql
    from mega_data_factory_spark.operators.packing import SequencePacker

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 10)) for i in range(6)] + [(6, "")],
        "doc_id long, text string",
    )
    tagged = docs.withColumn(
        REJECTION_DETAILS_COL,
        F.when(F.col("doc_id") % 2 == 1, F.expr(rejection_details_sql("filtered", "f"))),
    )
    out = SequencePacker(16, buckets=1).apply(tagged)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 7  # nothing dropped
    for i in (1, 3, 5, 6):  # rejected + empty -> unpacked
        assert rows[i].pack_bucket is None and rows[i].seq_id is None
    # alive docs 0,2,4 (10 tokens each) pack as starts 0,10,20 in seq_len=16
    assert (rows[0].seq_id, rows[0].seq_offset) == (0, 0)
    assert (rows[2].seq_id, rows[2].seq_offset) == (0, 10)
    assert (rows[4].seq_id, rows[4].seq_offset) == (1, 4)


def test_bad_params(spark):
    from mega_data_factory_spark.operators.packing import SequencePacker

    with pytest.raises(ValueError, match="seq_len"):
        SequencePacker(0)
    with pytest.raises(ValueError, match="buckets"):
        SequencePacker(16, buckets=0)


def test_deterministic_shuffle(spark):
    """deterministic_shuffle: the permutation (file membership + in-file
    order) is identical across input layouts and runs, independent of the
    original order, and a different salt yields a different permutation."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.packing import deterministic_shuffle

    df = spark.createDataFrame([(i, f"doc {i}") for i in range(500)], "doc_id long, text string")

    def seq(frame, **kw):
        out = deterministic_shuffle(frame, num_partitions=8, **kw)
        rows = out.withColumn("__p", F.spark_partition_id()).collect()
        by_part = {}
        for r in rows:
            by_part.setdefault(r["__p"], []).append(r.doc_id)
        return [tuple(by_part[p]) for p in sorted(by_part)]

    a = seq(df)
    b = seq(df.repartition(13).sortWithinPartitions(F.col("doc_id").desc()))
    assert a == b  # layout-independent permutation
    flat = [i for part in a for i in part]
    assert sorted(flat) == list(range(500))  # a true permutation
    assert flat != list(range(500))  # and actually shuffled
    # adjacent-id correlation is destroyed: few consecutive pairs remain
    adjacent = sum(1 for x, y in zip(flat, flat[1:]) if y == x + 1)
    assert adjacent < 25
    c = seq(df, salt="epoch2")
    assert c != a  # independent permutation per salt
    # rank_col keeps the rank for audit
    kept = deterministic_shuffle(df, num_partitions=4, rank_col="rk")
    assert "rk" in kept.columns and kept.filter(F.col("rk").isNull()).count() == 0


def test_packed_token_ids_exact_chunks(spark):
    """Shard materialization: exact seq_len arrays, documents spanning
    sequence boundaries, per-bucket concatenation reproduced verbatim,
    layout-independent."""
    from mega_data_factory_spark.operators.packing import SequencePacker

    seq_len = 8
    docs = [
        (i, list(range(i * 100, i * 100 + n)))
        for i, n in enumerate([3, 5, 21, 1, 8, 13, 2], start=1)  # 21 > seq_len: spans 3 seqs
    ]
    df = spark.createDataFrame(docs, "doc_id long, bpe_token_ids array<int>")
    p = SequencePacker(seq_len, buckets=3)
    out = p.packed_token_ids(df).collect()
    # group shards per bucket, ordered by seq_id
    by_bucket: dict[int, list] = {}
    for r in out:
        by_bucket.setdefault(r.pack_bucket, []).append(r)
    for b, shards in by_bucket.items():
        shards.sort(key=lambda r: r.seq_id)
        # contiguous seq ids from 0
        assert [s.seq_id for s in shards] == list(range(len(shards)))
        # every shard full except the last
        for s in shards[:-1]:
            assert len(s.tokens) == seq_len and s.n_tokens == seq_len
        assert 1 <= len(shards[-1].tokens) <= seq_len
        assert all(s.n_tokens == len(s.tokens) for s in shards)
    # per-bucket flattening == concatenation of member docs in id order;
    # expected membership via the operator's own coordinates (token_col form)
    coord_rows = (
        SequencePacker(seq_len, buckets=3, token_col="__n")
        .apply(df.withColumn("__n", F.size("bpe_token_ids")))
        .select("doc_id", "pack_bucket")
        .collect()
    )
    members: dict[int, list[int]] = {}
    toks = {d: a for d, a in docs}
    for r in sorted(coord_rows, key=lambda r: r.doc_id):
        members.setdefault(r.pack_bucket, []).extend(toks[r.doc_id])
    for b, shards in by_bucket.items():
        flat = [t for s in sorted(shards, key=lambda r: r.seq_id) for t in s.tokens]
        assert flat == members[b], f"bucket {b} concatenation mismatch"
    # layout independence
    again = p.packed_token_ids(df.repartition(5)).collect()
    key = lambda rows: sorted((r.pack_bucket, r.seq_id, tuple(r.tokens)) for r in rows)
    assert key(again) == key(out)


def test_packed_token_ids_bpe_end_to_end(spark):
    """documents -> BPE encode_ids -> exact-seq_len shards: inverse-vocab
    detokenization of the flattened shards reproduces the normalized
    corpus text per bucket (nothing lost or reordered end to end)."""
    from mega_data_factory_spark.operators.bpe import END_OF_WORD, BpeTokenizer
    from mega_data_factory_spark.operators.packing import SequencePacker

    rows = [(i, f"pack these words doc {i} low lower newest") for i in range(1, 9)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tok = BpeTokenizer(vocab_size=60).fit(df)
    ids = tok.encode_ids(df)
    p = SequencePacker(16, buckets=2)
    shards = p.packed_token_ids(ids).collect()
    inv = {i: t for t, i in tok.vocab().items()}
    # rebuild per-bucket text from shards
    by_bucket: dict[int, list] = {}
    for r in shards:
        by_bucket.setdefault(r.pack_bucket, []).append(r)
    # expected membership from coordinates (count col = array size)
    coord = (
        SequencePacker(16, buckets=2, token_col="bpe_token_count")
        .apply(ids)
        .select("doc_id", "pack_bucket")
        .collect()
    )
    texts = dict(rows)
    for b, rs in by_bucket.items():
        flat = [t for r in sorted(rs, key=lambda r: r.seq_id) for t in r.tokens]
        detok = "".join(inv[i] for i in flat).replace(END_OF_WORD, " ").strip()
        expected = " ".join(
            texts[r.doc_id] for r in sorted(coord, key=lambda r: r.doc_id) if r.pack_bucket == b
        )
        assert detok == expected


def _py_chunks(text, chunk, overlap):
    """Independent python reimplementation of the chunking rule.
    ASCII-whitespace split (re, not str.split): Java's \\s is ASCII-only,
    and the operator documents NBSP etc. as word characters — the
    engine-wide BPE/token-count convention."""
    import re as _re

    words = [w for w in _re.split(r"[ \t\n\r\f\x0b]+", text or "") if w]
    stride = chunk - overlap
    n = len(words)
    import math
    last = max(int(math.floor((n - (overlap + 1)) / stride)) * stride, 0)
    return [" ".join(words[s : s + chunk]) for s in range(0, last + 1, stride)]


def test_document_chunker_differential(spark):
    """Chunk the real sf documents corpus and compare every chunk against
    an independent python reimplementation of the rule — full coverage
    (first/middle/tail windows, short docs, every real whitespace shape)."""
    from mega_data_factory_spark.operators.packing import DocumentChunker
    from mega_data_factory_spark.session import load_tables

    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"]
    chunk, overlap = 40, 8
    out = DocumentChunker(chunk, overlap_tokens=overlap).apply(docs)
    got = {}
    for r in out.select("doc_id", "chunk_index", "chunk_id", "chunk_text", "chunk_n_tokens").collect():
        got.setdefault(r.doc_id, []).append(r)
    src = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    assert set(got) == set(src)  # every document emits >= 1 chunk
    for doc_id, text in src.items():
        rows = sorted(got[doc_id], key=lambda r: r.chunk_index)
        expect = _py_chunks(text, chunk, overlap)
        assert [r.chunk_text for r in rows] == expect, doc_id
        assert [r.chunk_index for r in rows] == list(range(len(expect)))
        assert all(r.chunk_id == f"{doc_id}#{r.chunk_index}" for r in rows)
        assert all(
            r.chunk_n_tokens == (len(r.chunk_text.split()) if r.chunk_text else 0) for r in rows
        )


def test_document_chunker_edges(spark):
    """Overlap reconstruction, tail handling, and the empty/NULL-text
    row-accounting contract (one empty chunk, never a dropped doc)."""
    from mega_data_factory_spark.operators.packing import DocumentChunker

    rows = [
        (1, " ".join(f"w{i}" for i in range(10))),  # 10 words
        (2, "one two"),                              # shorter than one chunk
        (3, ""),                                     # empty
        (4, None),                                   # NULL
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = DocumentChunker(4, overlap_tokens=1).apply(df)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    # stride 3: starts 0,3,6 — w9 lands in the start-6 window; start 9 would
    # re-emit only the overlap word and must not appear
    assert [r.chunk_text for r in sorted(by_doc[1], key=lambda r: r.chunk_index)] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
    ]
    # consecutive chunks overlap by exactly overlap_tokens
    texts = [r.chunk_text.split() for r in sorted(by_doc[1], key=lambda r: r.chunk_index)]
    for a, b in zip(texts, texts[1:]):
        assert a[-1:] == b[:1]
    assert [r.chunk_text for r in by_doc[2]] == ["one two"]
    for d in (3, 4):
        assert len(by_doc[d]) == 1 and by_doc[d][0].chunk_text == "" and by_doc[d][0].chunk_n_tokens == 0
    # guards
    with pytest.raises(ValueError, match="chunk_tokens"):
        DocumentChunker(0)
    with pytest.raises(ValueError, match="overlap_tokens"):
        DocumentChunker(4, overlap_tokens=4)


def test_document_chunker_unicode_ws_and_reapply(spark):
    """NBSP is a WORD character (ASCII-whitespace tokenization, the BPE
    parity convention) on both sides of the differential; re-applying the
    chunker replaces its own columns instead of raising on duplicates;
    NULL doc ids get an explicit 'null#idx' chunk id, not a bare index."""
    from mega_data_factory_spark.operators.packing import DocumentChunker

    df = spark.createDataFrame(
        [(1, "foo\u00a0bar baz qux quux corge"), (None, "a b")],
        "doc_id long, text string",
    )
    out = DocumentChunker(2, overlap_tokens=0).apply(df)
    rows = {(r.doc_id, r.chunk_index): r for r in out.collect()}
    # NBSP keeps foo+bar one token -> chunks of 2 ASCII-ws tokens
    assert rows[(1, 0)].chunk_text == "foo\u00a0bar baz"
    assert rows[(1, 0)].chunk_n_tokens == 2
    assert _py_chunks("foo\u00a0bar baz qux quux corge", 2, 0)[0] == "foo\u00a0bar baz"
    assert rows[(None, 0)].chunk_id == "null#0"
    # re-apply: chunk_* columns are REPLACED (no ambiguous references)
    again = DocumentChunker(1, overlap_tokens=0).apply(out)
    assert again.columns.count("chunk_text") == 1
    assert again.filter(again.chunk_n_tokens > 1).count() == 0


def test_document_chunker_plan_is_pure_codegen(spark):
    """Zero Python, zero shuffle: no Exchange, no ArrowEval/BatchEval
    nodes — the 100 TB shape (chunking is embarrassingly row-local)."""
    from mega_data_factory_spark.operators.packing import DocumentChunker

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = DocumentChunker(2, overlap_tokens=0).apply(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _py_mix64(x: int) -> int:
    """Independent pure-int reimplementation of the splitmix64 finalizer."""
    M = (1 << 64) - 1
    z = (x + 0x9E3779B97F4A7C15) & M
    z ^= z >> 30
    z = (z * 0xBF58476D1CE4E5B9) & M
    z ^= z >> 27
    z = (z * 0x94D049BB133111EB) & M
    z ^= z >> 31
    return z


def _py_segment(total: int, parts: int, seed: int, tag: int) -> list[int]:
    if parts <= 1:
        return [total]
    M = (1 << 64) - 1
    pos = list(range(1, total))
    ranked = sorted(pos, key=lambda p: (_py_mix64(seed ^ ((p * 0xC2B2AE3D27D4EB4F + tag) & M)), p))
    breaks = sorted(ranked[: parts - 1])
    edges = [0, *breaks, total]
    return [edges[i + 1] - edges[i] for i in range(len(edges) - 1)]


def _py_corrupt(tokens, seed: int, density=0.15, mean_span=3.0, start=1000):
    n = len(tokens)
    if n < 2:
        return list(tokens), []
    num_noise = int(min(max(round(n * density), 1), n - 1))
    num_spans = int(max(1, round(num_noise / mean_span)))
    num_spans = min(num_spans, num_noise, n - num_noise)
    noise = _py_segment(num_noise, num_spans, seed, 1)
    plain = _py_segment(n - num_noise, num_spans, seed, 2)
    inp, tgt, at = [], [], 0
    for k in range(num_spans):
        inp += tokens[at : at + plain[k]] + [start - k]
        at += plain[k]
        tgt += [start - k] + tokens[at : at + noise[k]]
        at += noise[k]
    return inp, tgt + [start - num_spans]


def test_span_corruption_matches_independent_reimplementation(spark):
    """Value-for-value agreement with a pure-python reimplementation of the
    hash-rank segmentation (the non-SQL-expressible operators' differential
    bar), across varied lengths including the <2-token and NULL edges."""
    import random

    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.packing import SpanCorruptionBuilder

    rng = random.Random(7)
    rows = []
    for i in range(40):
        n = [0, 1, 2, 3, 7, 20, 64, 257][i % 8]
        rows.append((i % 5, i, [rng.randrange(0, 900) for _ in range(n)]))
    rows.append((0, 999, None))
    df = spark.createDataFrame(rows, "pack_bucket int, seq_id long, tokens array<int>")
    b = SpanCorruptionBuilder(sentinel_start=1000)
    got = {r.seq_id: r for r in b.apply(df).collect()}

    seeds = {
        r.seq_id: r.s
        for r in df.select("seq_id", F.xxhash64("pack_bucket", "seq_id", F.lit("span")).alias("s")).collect()
    }
    for bk, sid, toks in rows:
        if toks is None:
            assert got[sid].input_ids is None and got[sid].target_ids is None
            continue
        ei, et = _py_corrupt(toks, seeds[sid] & ((1 << 64) - 1))
        assert got[sid].input_ids == ei, f"seq {sid} input"
        assert got[sid].target_ids == et, f"seq {sid} target"


def test_span_corruption_properties(spark):
    """The t5 invariants: interleaving reconstructs the original sequence
    exactly; noise fraction tracks the density; sentinels descend from
    sentinel_start and close the target; deterministic across repartition;
    bad params raise."""
    import random

    import pytest as _pytest

    from mega_data_factory_spark.operators.packing import SpanCorruptionBuilder

    rng = random.Random(11)
    rows = [(i % 3, i, [rng.randrange(0, 900) for _ in range(rng.randrange(50, 400))]) for i in range(30)]
    df = spark.createDataFrame(rows, "pack_bucket int, seq_id long, tokens array<int>")
    b = SpanCorruptionBuilder(sentinel_start=1000, noise_density=0.15, mean_span=3.0)
    out = {r.seq_id: r for r in b.apply(df).collect()}
    orig = {sid: t for _, sid, t in rows}

    total = noise = 0
    for sid, r in out.items():
        inp, tgt = r.input_ids, r.target_ids
        # split target on sentinels -> spans; splice back into input
        spans, cur = {}, None
        for t in tgt:
            if t > 900:
                cur = t
                spans[cur] = []
            else:
                spans[cur].append(t)
        rebuilt = []
        for t in inp:
            rebuilt.extend(spans[t] if t > 900 else [t])
        assert rebuilt == orig[sid], f"seq {sid} reconstruction"
        n = len(orig[sid])
        masked = sum(len(v) for v in spans.values())
        total += n
        noise += masked
        sentinels = [t for t in inp if t > 900]
        k = len(sentinels)
        assert sentinels == [1000 - i for i in range(k)]
        assert tgt[-1] == 1000 - k or spans[1000 - k] == []  # closing sentinel, empty span
    assert 0.10 <= noise / total <= 0.20

    re = {r.seq_id: (r.input_ids, r.target_ids) for r in b.apply(df.repartition(13)).collect()}
    assert re == {sid: (r.input_ids, r.target_ids) for sid, r in out.items()}

    with _pytest.raises(ValueError, match="sentinel_start"):
        SpanCorruptionBuilder()
    with _pytest.raises(ValueError, match="noise_density"):
        SpanCorruptionBuilder(sentinel_start=10, noise_density=1.5)
    with _pytest.raises(ValueError, match="mean_span"):
        SpanCorruptionBuilder(sentinel_start=10, mean_span=0.5)


def test_span_corruption_single_udf_evaluation(spark):
    """The struct UDF is materialized once (ArrowEvalPython appears once in
    the plan), and the export path composes: packed_token_ids -> spans."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.bpe import BpeTokenizer
    from mega_data_factory_spark.operators.packing import SequencePacker, SpanCorruptionBuilder

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * (i + 1)) for i in range(8)],
        "doc_id long, text string",
    )
    tok = BpeTokenizer(vocab_size=300).fit(docs)
    with_ids = tok.encode_ids(docs)
    packed = SequencePacker(seq_len=64, buckets=2).packed_token_ids(with_ids, "bpe_token_ids")
    vocab_top = len(tok.vocab()) + 100
    out = SpanCorruptionBuilder(sentinel_start=vocab_top).apply(packed)
    rows = out.collect()
    assert rows and all(r.input_ids and r.target_ids for r in rows)
    # single evaluation: count the span UDF's Arrow node over a plain
    # materialized input (the composed plan also carries the BPE encode UDF)
    plain = spark.createDataFrame(
        [(0, 1, list(range(64)))], "pack_bucket int, seq_id long, tokens array<int>"
    )
    plan = SpanCorruptionBuilder(sentinel_start=1000).apply(plain)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


def test_span_corruption_pipeline_hooks_single_eval(spark):
    """The Pipeline refiner path (``tag``) shares apply()'s private UDF
    binding: ONE ArrowEvalPython node, the private struct column dropped,
    fields populated — a UDF copy per field relied on Catalyst CSE and
    risked 2x Arrow cost under downstream predicate substitution."""
    import pyspark.sql.functions as F

    from mega_data_factory_spark.operators.base import REJECTION_DETAILS_COL, REJECTION_STRUCT_DDL
    from mega_data_factory_spark.operators.packing import SpanCorruptionBuilder

    b = SpanCorruptionBuilder(sentinel_start=1000)
    plain = spark.createDataFrame(
        [(0, 1, list(range(64)))], "pack_bucket int, seq_id long, tokens array<int>"
    )
    # the pipeline gates every output on the row being alive
    out = b.tag(plain.withColumn(REJECTION_DETAILS_COL, F.lit(None).cast(REJECTION_STRUCT_DDL)))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "__span_once" not in out.columns
    r = out.collect()[0]
    assert r.input_ids and r.target_ids
    # base-class apply() honors the same private-key drop contract
    base_out = super(SpanCorruptionBuilder, b).apply(plain)
    assert "__span_once" not in base_out.columns
    rb = base_out.collect()[0]
    assert rb.input_ids == r.input_ids and rb.target_ids == r.target_ids


def test_sentence_chunker_matches_oracle(spark):
    """Closed-form sentence->chunk assignment mirrored in DuckDB window SQL
    over real docs (punctuation-free -> one sentence, chunk 0) plus planted
    multi-sentence rows that straddle the word budget."""
    from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql
    from mega_data_factory_spark.operators.packing import SentenceChunker
    from mega_data_factory_spark.session import load_tables

    planted = [
        (200001, "One two three four. Five six seven! Eight nine ten eleven twelve? Tail."),
        (200002, "Single sentence no punct at all"),
        (200003, None),
        (200004, "   "),
        (200005, "A!? Multi mark run.  Double  spaced words here."),
        # over-budget single sentence: raw floor() ids jump 0 -> 3, the
        # dense index must still be 0, 1
        (200006, " ".join(f"w{k}" for k in range(20)) + ". Next one here."),
        (200007, "embedded \x1e sentinel chars. stripped before marking."),
    ]
    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"].select("doc_id", "text")
    df = docs.unionByName(spark.createDataFrame(planted, "doc_id long, text string"))
    out = (
        SentenceChunker(8)
        .apply(df)
        .select("doc_id", "chunk_index", "chunk_id", "chunk_text", "chunk_n_sentences", "chunk_n_tokens")
        .orderBy("doc_id", "chunk_index")
    )
    values = ", ".join(
        "({}, {})".format(
            i,
            "NULL" if t is None else "'" + t.replace("'", "''").replace("\x1e", "' || chr(30) || '") + "'",
        )
        for i, t in planted
    )
    ws = r"[ \t\x0B\f\r\n]+"
    sql = f"""
WITH corpus(doc_id, text) AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES {values})
),
cleaned AS (
  SELECT doc_id, replace(COALESCE(text, ''), chr(30), ' ') AS t FROM corpus
),
sents AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(t, '([.!?]+){ws}', '\\1' || chr(30), 'g'), chr(30))) AS sent,
         generate_subscripts(string_split(regexp_replace(t, '([.!?]+){ws}', '\\1' || chr(30), 'g'), chr(30)), 1) AS pos
  FROM cleaned
),
wd AS (
  SELECT doc_id, sent, pos,
         len(list_filter(regexp_split_to_array(sent, '{ws}'), w -> w <> '')) AS w
  FROM sents
),
assigned AS (
  SELECT doc_id, sent, pos, w,
         CAST(floor(CAST(COALESCE(sum(w) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) / 8.0) AS INT) AS chunk
  FROM wd WHERE w > 0
),
chunks AS (
  SELECT doc_id, chunk,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY chunk) - 1 AS INT) AS dense,
         string_agg(sent, ' ' ORDER BY pos) AS chunk_text,
         CAST(count(*) AS INT) AS chunk_n_sentences,
         CAST(sum(w) AS BIGINT) AS chunk_n_tokens
  FROM assigned GROUP BY doc_id, chunk
)
SELECT c.doc_id,
       CAST(COALESCE(k.dense, 0) AS INT) AS chunk_index,
       c.doc_id || '#' || CAST(COALESCE(k.dense, 0) AS VARCHAR) AS chunk_id,
       COALESCE(k.chunk_text, '') AS chunk_text,
       COALESCE(k.chunk_n_sentences, 0) AS chunk_n_sentences,
       COALESCE(k.chunk_n_tokens, 0) AS chunk_n_tokens
FROM corpus c LEFT JOIN chunks k ON c.doc_id = k.doc_id
ORDER BY c.doc_id, chunk_index
"""
    assert_df_matches_sql(out, sql, name="sentence_chunker")


def test_sentence_chunker_behavior(spark):
    """Chunks never cut mid-sentence; a chunk exceeds the budget only by
    its straddling final sentence; NULL/blank docs yield one empty chunk;
    bad params raise."""
    import pytest as _pytest

    from mega_data_factory_spark.operators.packing import SentenceChunker

    text = "Alpha beta gamma delta. Epsilon zeta eta theta. Iota kappa. Lambda mu nu xi omicron pi."
    df = spark.createDataFrame(
        [(1, text), (2, None), (3, " \n "), (None, "Null id doc. Keeps its text.")],
        "doc_id long, text string",
    )
    rows = sorted(
        SentenceChunker(6).apply(df).collect(),
        key=lambda r: (r.doc_id is None, r.doc_id or 0, r.chunk_index),
    )
    d1 = [r for r in rows if r.doc_id == 1]
    # words_before: 0,4,8,10 -> chunks 0,0,1,1
    assert [r.chunk_index for r in d1] == [0, 1]
    assert d1[0].chunk_text == "Alpha beta gamma delta. Epsilon zeta eta theta."
    assert d1[0].chunk_n_sentences == 2 and d1[0].chunk_n_tokens == 8
    assert d1[1].chunk_text == "Iota kappa. Lambda mu nu xi omicron pi."
    assert d1[1].chunk_id == "1#1"
    for did in (2, 3):
        (r,) = [x for x in rows if x.doc_id == did]
        assert r.chunk_index == 0 and r.chunk_text == "" and r.chunk_n_tokens == 0
    # a NULL-id row keeps its chunk text (null-safe join back)
    (rn,) = [x for x in rows if x.doc_id is None]
    assert rn.chunk_text == "Null id doc. Keeps its text." and rn.chunk_n_sentences == 2
    with _pytest.raises(ValueError, match="chunk_tokens"):
        SentenceChunker(0)


def test_sentence_chunker_reapply_and_chunk_id_sentinel(spark):
    """Re-chunking a frame that already carries chunk_* columns replaces
    them (no ambiguous-reference crash), and the NULL-id sentinel matches
    DocumentChunker's ('null#0')."""
    from mega_data_factory_spark.operators.packing import DocumentChunker, SentenceChunker

    df = spark.createDataFrame(
        [(1, "One fine sentence. Two more words here."), (None, "Null id doc.")],
        "doc_id long, text string",
    )
    c = SentenceChunker(4)
    once = c.apply(df)
    again = c.apply(once)  # must not raise AMBIGUOUS_REFERENCE
    assert {r.chunk_id for r in again.collect()} >= {"1#0", "null#0"}
    mixed = c.apply(DocumentChunker(8, overlap_tokens=0, text_col="text").apply(df))
    assert "chunk_text" in mixed.columns and mixed.count() >= 2
    d_null = DocumentChunker(8, overlap_tokens=0).apply(df).filter("doc_id IS NULL").first()
    s_null = c.apply(df).filter("doc_id IS NULL").first()
    assert d_null.chunk_id == s_null.chunk_id == "null#0"
