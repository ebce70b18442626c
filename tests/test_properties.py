"""Property-based tests (SURVEY §5 item 4, beyond the reference's own
suite): dedup idempotence, filter conjunction-order invariance,
passed/rejected partition completeness — on hypothesis-generated corpora
run through the REAL operators on Spark."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mega_data_factory_spark.operators.dedup import MinHashLSHDeduplicator, TextExactDeduplicator
from mega_data_factory_spark.operators.filters import TextLengthFilter, WordScoreFilter

# Small alphabets force collisions (duplicate texts) so dedup is exercised.
_WORD = st.sampled_from(["spark", "data", "big", "slow", "pipeline", "the", "of"])
_TEXT = st.lists(_WORD, min_size=0, max_size=12).map(" ".join)
_CORPUS = st.lists(_TEXT, min_size=1, max_size=25)

_SETTINGS = dict(
    max_examples=8,  # each example runs Spark jobs — keep the loop tight
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


@settings(**_SETTINGS)
@given(texts=_CORPUS)
def test_exact_dedup_idempotent_and_partitioning(spark, texts):
    """apply(apply(df)) == apply(df); survivors + rejected partition the
    input exactly; every rejected row's representative survives."""
    df = _df(spark, texts)
    d = TextExactDeduplicator(id_col="doc_id")
    once = d.apply(df)
    ids_once = {r.doc_id for r in once.collect()}
    ids_twice = {r.doc_id for r in d.apply(once).collect()}
    assert ids_twice == ids_once  # idempotent

    rej = d.rejected(df)
    rej_rows = rej.select("doc_id", F.col("_rejection_details.representative_id").alias("rep")).collect()
    ids_rej = {r.doc_id for r in rej_rows}
    assert ids_once | ids_rej == set(range(len(texts)))  # complete
    assert ids_once & ids_rej == set()  # disjoint
    assert all(int(r.rep) in ids_once for r in rej_rows)  # reps survive


@settings(**_SETTINGS)
@given(texts=_CORPUS, lo=st.integers(0, 20), hi=st.integers(20, 80))
def test_filter_conjunction_order_invariance(spark, texts, lo, hi):
    """length-then-score == score-then-length == single conjunct filter."""
    df = _df(spark, texts)
    lenf = TextLengthFilter(lo, hi)
    ws = WordScoreFilter({"slow": 0.4, "big": 0.3}, 0.5)
    a = {r.doc_id for r in df.filter(lenf.keep_sql(df)).filter(ws.keep_sql(df)).collect()}
    b = {r.doc_id for r in df.filter(ws.keep_sql(df)).filter(lenf.keep_sql(df)).collect()}
    c = {r.doc_id for r in df.filter(f"{lenf.keep_sql(df)} AND {ws.keep_sql(df)}").collect()}
    assert a == b == c


@settings(**_SETTINGS)
@given(texts=_CORPUS)
def test_minhash_never_drops_uniques_catches_exacts(spark, texts):
    """Exact duplicate texts always collide in every band -> only the
    first survives; and survivors are always a subset of the input."""
    df = _df(spark, texts)
    d = MinHashLSHDeduplicator(num_hashes=16, bands=4, id_col="doc_id")
    kept = {r.doc_id for r in d.apply(df).collect()}
    assert kept <= set(range(len(texts)))
    first_of = {}
    for i, t in enumerate(texts):
        first_of.setdefault(t, i)
    for i, t in enumerate(texts):
        if first_of[t] != i:
            assert i not in kept  # later exact copy must be deduped
        if first_of[t] == i and i in kept:
            pass  # first occurrence may survive (unless near-dup of other text)
    # every text's first occurrence group is represented by <=1 survivor
    for t, grp in [(t, [i for i, x in enumerate(texts) if x == t]) for t in set(texts)]:
        assert len(set(grp) & kept) <= 1


@settings(**_SETTINGS)
@given(texts=_CORPUS)
def test_jaccard_partitioning_and_idempotence(spark, texts):
    """Near-dedup invariants: survivors+rejected partition the corpus;
    every representative has a smaller id than its duplicate; survivors
    are pairwise-stable (re-applying removes nothing)."""
    from mega_data_factory_spark.operators.dedup import NgramJaccardDeduplicator

    df = _df(spark, texts)
    d = NgramJaccardDeduplicator(0.6, id_col="doc_id")
    kept = {r.doc_id for r in d.apply(df).collect()}
    rej = d.rejected(df).select("doc_id", F.col("_rejection_details.representative_id").alias("rep")).collect()
    rej_ids = {r.doc_id for r in rej}
    assert kept | rej_ids == set(range(len(texts)))
    assert kept & rej_ids == set()
    assert all(int(r.rep) < r.doc_id for r in rej)  # earlier id wins
    kept2 = {r.doc_id for r in d.apply(d.apply(df)).collect()}
    assert kept2 == kept  # idempotent


_PII_FRAG = st.sampled_from(
    [
        "plain words here",
        "mail bob@site.org now",
        "call 555-123-4567",
        "host 10.0.0.1 up",
        "almost 1.2.3 mail@ nope",
    ]
)
_PII_TEXT = st.lists(_PII_FRAG, min_size=0, max_size=5).map(" ".join)


@settings(**_SETTINGS)
@given(texts=st.lists(_PII_TEXT, min_size=1, max_size=10))
def test_pii_redaction_idempotent_and_clean(spark, texts):
    """Redacting already-redacted text is a no-op (placeholders contain no
    PII-shaped substrings) and redacted output never matches any PII
    pattern; counts are 0 on redacted text."""
    from mega_data_factory_spark.operators.refiners import PiiRedactRefiner

    df = _df(spark, texts)
    r = PiiRedactRefiner()
    once = r.apply(df)
    again = r.apply(once.select("doc_id", F.col("text_redacted").alias("text")))
    rows = {x.doc_id: x for x in again.collect()}
    for o in once.collect():
        a = rows[o.doc_id]
        assert a.text == o.text_redacted  # input to the 2nd pass
        assert a.text_redacted == o.text_redacted  # idempotent
        assert a.pii_email_count == 0 and a.pii_phone_count == 0 and a.pii_ip_count == 0


@settings(**_SETTINGS)
@given(texts=_CORPUS)
def test_repetition_ratios_bounded_and_consistent(spark, texts):
    """Both ratios live in [0,1]; a single-word-vocabulary text maximizes
    both; ratios are pure functions of the text (same text -> same ratios)."""
    from mega_data_factory_spark.operators.refiners import RepetitionStatsRefiner

    df = _df(spark, texts)
    out = RepetitionStatsRefiner().apply(df).collect()
    by_text: dict[str, tuple] = {}
    for r in out:
        assert 0.0 <= r.dup_word_ratio <= 1.0
        assert 0.0 <= r.top_bigram_ratio <= 1.0
        key = (r.dup_word_ratio, r.top_bigram_ratio)
        t = texts[r.doc_id]
        assert by_text.setdefault(t, key) == key  # deterministic per text
        words = [w for w in t.split() if w]
        if len(set(words)) == 1 and len(words) >= 3:
            assert r.top_bigram_ratio == 1.0


@settings(**_SETTINGS)
@given(texts=_CORPUS)
def test_repetition_linear_form_agrees_with_hof_form(spark, texts):
    """long_docs=True (explode -> groupBy(id, bigram) -> max aggregation,
    the linear-cost form for book-length rows) must produce the identical
    (dup_word_ratio, top_bigram_ratio) as the default per-row HOF form on
    any corpus — including empty texts, single words, and all-repeat rows
    the small-vocabulary strategy generates."""
    from mega_data_factory_spark.operators.refiners import RepetitionStatsRefiner

    df = _df(spark, texts)
    cols = ["doc_id", "dup_word_ratio", "top_bigram_ratio"]
    hof = {r.doc_id: (r.dup_word_ratio, r.top_bigram_ratio)
           for r in RepetitionStatsRefiner().apply(df).select(cols).collect()}
    lin = {r.doc_id: (r.dup_word_ratio, r.top_bigram_ratio)
           for r in RepetitionStatsRefiner(long_docs=True, id_col="doc_id").apply(df).select(cols).collect()}
    assert lin == hof


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=0, max_size=40
    )
)
def test_connected_components_match_union_find(spark, edges):
    """Hypothesis-generated graphs (self-loops, duplicates, multi-edges):
    the distributed large-star/small-star closure agrees exactly with a
    driver-side union-find on every input."""
    from tests.test_graph import _union_find
    from mega_data_factory_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    got = {r.id: r.component for r in connected_components(df).collect()}
    expected = _union_find([e for e in edges if e[0] != e[1]])
    assert got == expected


@settings(**_SETTINGS)
@given(
    toks=st.lists(st.integers(0, 40), min_size=1, max_size=30),
    seq_len=st.integers(1, 64),
    buckets=st.integers(1, 4),
)
def test_sequence_packing_invariants(spark, toks, seq_len, buckets):
    """For arbitrary token lengths / seq_len / bucket counts: offsets live
    in [0, seq_len), per-bucket starts are the gapless running sum in id
    order, and empty docs never pack."""
    from mega_data_factory_spark.operators.packing import SequencePacker

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = SequencePacker(seq_len, buckets=buckets).apply(df)
    got = sorted(
        (r.pack_bucket, r.doc_id, r.seq_id, r.seq_offset) for r in out.collect()
    )
    assert len(got) == sum(1 for n in toks if n > 0)  # empty docs dropped
    by_bucket: dict[int, int] = {}
    for b, doc_id, seq_id, off in got:  # sorted -> id order within bucket
        assert 0 <= off < seq_len
        start = by_bucket.get(b, 0)
        assert (seq_id, off) == (start // seq_len, start % seq_len)
        by_bucket[b] = start + toks[doc_id]


@settings(**_SETTINGS)
@given(
    w=st.floats(min_value=0.0, max_value=4.0, allow_nan=False).map(lambda x: round(x, 2)),
    n=st.integers(min_value=1, max_value=60),
)
def test_epoch_mixer_count_invariants(spark, w, n):
    """For ANY weight w and corpus size n: every doc yields floor(w) or
    ceil(w) copies; total output is within the partial-epoch bucket
    granularity of w*n; epochs are exactly 0..copies-1 per doc; and the
    fan-out is idempotent-deterministic (two applies agree row-for-row)."""
    import math

    from mega_data_factory_spark.operators.sampling import EpochWeightedMixer

    df = spark.createDataFrame([(i, "s") for i in range(n)], "doc_id long, source string")
    m = EpochWeightedMixer({"s": w}, id_col="doc_id")
    rows = m.apply(df).select("doc_id", "epoch").collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.epoch)
    lo, hi = math.floor(w), math.ceil(w)
    for eps in per_doc.values():
        assert len(eps) in (lo, hi) and sorted(eps) == list(range(len(eps)))
    assert len(per_doc) <= n
    total = len(rows)
    assert abs(total - w * n) <= n * 0.5 + 1  # hash-bucket granularity bound
    again = m.apply(df).select("doc_id", "epoch").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


@settings(**_SETTINGS)
@given(
    lens=st.lists(st.integers(0, 23), min_size=1, max_size=20),
    seq_len=st.integers(2, 9),
    eos=st.one_of(st.none(), st.just(0)),
)
def test_packed_token_ids_invariants(spark, lens, seq_len, eos):
    """Property: for ANY doc-length profile, seq_len, and eos choice —
    every shard except <=1 per bucket is exactly seq_len; flattening
    shards per bucket in seq order reproduces the (delimited) per-bucket
    concatenation of member docs in id order; nothing lost, nothing
    reordered."""
    from mega_data_factory_spark.operators.packing import SequencePacker

    docs = [(i, list(range(i * 1000, i * 1000 + n))) for i, n in enumerate(lens, start=1)]
    df = spark.createDataFrame(docs, "doc_id long, bpe_token_ids array<int>")
    p = SequencePacker(seq_len, buckets=2)
    shards = p.packed_token_ids(df, eos_id=eos).collect()
    coord = (
        SequencePacker(seq_len, buckets=2, token_col="__n")
        .apply(df.withColumn(
            "__n",
            F.size("bpe_token_ids") + (F.lit(1) if eos is not None else F.lit(0)),
        ))
        .select("doc_id", "pack_bucket")
        .collect()
    )
    toks = {d: (a + [eos] if eos is not None else a) for d, a in docs}
    expected: dict[int, list[int]] = {}
    for r in sorted(coord, key=lambda r: r.doc_id):
        if r.pack_bucket is not None:
            expected.setdefault(r.pack_bucket, []).extend(toks[r.doc_id])
    by_bucket: dict[int, list] = {}
    for r in shards:
        by_bucket.setdefault(r.pack_bucket, []).append(r)
    assert set(by_bucket) == set(expected)
    for b, rs in by_bucket.items():
        rs.sort(key=lambda r: r.seq_id)
        assert [r.seq_id for r in rs] == list(range(len(rs)))
        assert all(len(r.tokens) == seq_len for r in rs[:-1])
        assert 1 <= len(rs[-1].tokens) <= seq_len
        assert [t for r in rs for t in r.tokens] == expected[b]


_PUNCT_TEXT = st.lists(
    st.tuples(st.lists(_WORD, min_size=1, max_size=6), st.sampled_from([".", "!", "?", ""])),
    min_size=0,
    max_size=8,
).map(lambda parts: " ".join(" ".join(ws) + p for ws, p in parts))


@settings(**_SETTINGS)
@given(texts=st.lists(_PUNCT_TEXT, min_size=1, max_size=12), budget=st.integers(1, 20))
def test_sentence_chunker_invariants(spark, texts, budget):
    """For any corpus/budget: chunk indices are dense from 0; re-joined
    chunk text equals the whitespace-normalized original; token counts
    total the document's word count; every doc yields >= 1 row."""
    from mega_data_factory_spark.operators.packing import SentenceChunker

    out = SentenceChunker(budget).apply(_df(spark, texts)).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(len(texts)))
    for i, t in enumerate(texts):
        rows = sorted(by_doc[i], key=lambda r: r.chunk_index)
        assert [r.chunk_index for r in rows] == list(range(len(rows)))
        words = [w for w in t.split() if w]
        rebuilt = " ".join(r.chunk_text for r in rows if r.chunk_text)
        assert rebuilt.split() == words
        assert sum(r.chunk_n_tokens for r in rows) == len(words)


@settings(**_SETTINGS)
@given(
    toks=st.lists(st.lists(st.integers(0, 500), min_size=0, max_size=40), min_size=1, max_size=8),
    density=st.floats(0.05, 0.5),
)
def test_span_corruption_invariants(spark, toks, density):
    """For any token rows/density: splicing targets back into inputs
    reconstructs the original; every sentinel in the input appears in the
    target; rows under 2 tokens pass through with empty targets."""
    from mega_data_factory_spark.operators.packing import SpanCorruptionBuilder

    df = spark.createDataFrame(
        [(0, i, t) for i, t in enumerate(toks)], "pack_bucket int, seq_id long, tokens array<int>"
    )
    b = SpanCorruptionBuilder(sentinel_start=10_000, noise_density=density)
    got = {r.seq_id: r for r in b.apply(df).collect()}
    for i, t in enumerate(toks):
        inp, tgt = got[i].input_ids, got[i].target_ids
        if len(t) < 2:
            assert inp == list(t) and tgt == []
            continue
        spans: dict = {}
        cur = None
        for x in tgt:
            if x > 9000:
                cur, spans[cur] = x, []
            else:
                spans[cur].append(x)
        rebuilt = []
        for x in inp:
            rebuilt.extend(spans[x] if x > 9000 else [x])
        assert rebuilt == list(t)
        in_sents = [x for x in inp if x > 9000]
        assert in_sents == sorted(in_sents, reverse=True)  # descending sentinels
        assert all(x in spans for x in in_sents)
