"""Sequence packing: documents -> fixed-token-budget training sequences.

The last step of every LLM training-data pipeline turns curated documents
into ``seq_len``-token training sequences. The GPT-style recipe is
concat-then-chunk: lay documents end to end in a deterministic order and
cut every ``seq_len`` tokens. The engine-level question at 100 TB is HOW
to lay them end to end — a single global running total is a one-partition
window sort (a non-starter), so this operator packs within deterministic
HASH BUCKETS:

  * each document gets a stable md5-derived bucket
    (``operators/sampling.stable_bucket`` — reproducible across runs,
    engines, and partitionings);
  * within a bucket, documents are ordered by id and assigned their
    starting sequence via a windowed running token total — ONE shuffle on
    the bucket key, every bucket packed in parallel;
  * packing loss is bounded: at most one partial sequence per bucket, so
    ``buckets`` trades parallelism against tail waste (buckets ~
    corpus_tokens / (1000 * seq_len) keeps waste under 0.1%).

Assignment is closed-form integer arithmetic over exact token counts
(``functions.text.token_count``), so the whole operator is mirrorable in
ANSI SQL and differential-tested against DuckDB (tests/test_packing.py).
A document longer than ``seq_len`` spans several chunks and is assigned
to the chunk where it starts (``seq_offset`` gives the position; the
downstream tokenizer does the byte-level split — token counts here are
whitespace tokens unless a precomputed ``token_col`` is supplied).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mega_data_factory_spark.functions.text import token_count
from mega_data_factory_spark.operators.base import REJECTION_DETAILS_COL, Operator, Refiner
from mega_data_factory_spark.operators.sampling import stable_bucket


class SequencePacker(Operator):
    """Adds deterministic packing coordinates to every document:

      * ``pack_bucket`` — the parallel packing unit (stable id hash)
      * ``seq_id`` — sequence index within the bucket (concat-then-chunk)
      * ``seq_offset`` — the document's starting token offset inside that
        sequence

    ``(pack_bucket, seq_id)`` is the training-sequence key; a writer that
    ``repartition(pack_bucket).sortWithinPartitions(pack_bucket, seq_id,
    seq_offset)`` streams out ready-to-tokenize shards.
    """

    def __init__(
        self,
        seq_len: int = 2048,
        *,
        buckets: int = 64,
        id_col: str = "doc_id",
        text_col: str = "text",
        token_col: str | None = None,
        drop_empty: bool = True,
        name: str | None = None,
    ):
        super().__init__(name)
        if seq_len < 1:
            raise ValueError(f"seq_len must be >= 1, got {seq_len}")
        if buckets < 1:
            raise ValueError(f"buckets must be >= 1, got {buckets}")
        self.seq_len = seq_len
        self.buckets = buckets
        self.id_col = id_col
        self.text_col = text_col
        self.token_col = token_col
        self.drop_empty = drop_empty

    def _tokens(self) -> Column:
        if self.token_col is not None:
            return F.col(self.token_col).cast("long")
        return token_count(self.text_col)

    def apply(self, df: DataFrame) -> DataFrame:
        """Standalone: empty docs are dropped (``drop_empty``) since a
        0-token doc occupies no sequence space. Inside a tagged pipeline
        (the ``_rejection_details`` column is present) NO rows are
        dropped: rejected/empty rows get NULL packing coordinates and
        consume no token budget — row accounting stays intact."""
        tagged = REJECTION_DETAILS_COL in df.columns
        out, alive = self._with_coords(df, self._tokens(), tagged)
        res = (
            # floor, not cast: `/` widens to double and a straight BIGINT
            # cast truncates here but ROUNDS in other engines (DuckDB)
            out.withColumn("seq_id", F.floor(F.col("__start") / F.lit(self.seq_len)).cast("long"))
            .withColumn("seq_offset", (F.col("__start") % F.lit(self.seq_len)).cast("long"))
            .drop("__tok", "__start")
        )
        return self._tag_unpackable(res, alive) if tagged else res

    def _with_coords(self, df: DataFrame, tokens: Column, tagged: bool):
        """Shared coordinate assignment: adds ``__tok``, ``pack_bucket``
        and the running-total ``__start`` (one shuffle on the bucket key).
        Returns (frame, alive-predicate)."""
        alive = F.col(REJECTION_DETAILS_COL).isNull() if tagged else F.lit(True)
        tok = F.when(alive, tokens).otherwise(F.lit(None))
        # NULL ids cannot pack (stable_bucket of NULL is NULL, and the
        # unique-id ordering contract breaks): exclude them from the
        # packable set EXPLICITLY — they keep NULL coordinates and, in a
        # tagged pipeline, are tagged below so sequences() dropping them
        # is visible in the funnel rather than silent token loss
        out = df.withColumn("__tok", tok).withColumn(
            "pack_bucket",
            F.when(
                alive & (F.col("__tok") > 0) & F.col(self.id_col).isNotNull(),
                stable_bucket(self.id_col, buckets=self.buckets),
            ).cast("int"),
        )
        if self.drop_empty and not tagged:
            out = out.filter(F.col("__tok") > 0)
        # unpackable rows (rejected/empty) must not pile into one NULL
        # window partition — spread them over negative pseudo-buckets;
        # their running totals are computed but never surfaced (start is
        # NULL-gated below)
        wkey = F.coalesce(
            F.col("pack_bucket"),
            (-(F.pmod(F.xxhash64(F.coalesce(F.col(self.id_col).cast("string"), F.lit(""))), F.lit(self.buckets)) + F.lit(1))).cast("int"),
        )
        w = (
            Window.partitionBy(wkey)
            .orderBy(F.col(self.id_col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        packable = F.col("pack_bucket").isNotNull()
        start = F.when(packable, F.sum("__tok").over(w) - F.col("__tok"))
        return out.withColumn("__start", start), alive

    def _tag_unpackable(self, out: DataFrame, alive) -> DataFrame:
        from mega_data_factory_spark.operators.base import rejection_details_sql

        return out.withColumn(
            REJECTION_DETAILS_COL,
            F.when(
                alive & F.col("pack_bucket").isNull() & F.col(self.id_col).isNull(),
                F.expr(rejection_details_sql("unpackable_null_id", self.name)),
            ).otherwise(F.col(REJECTION_DETAILS_COL)),
        )

    def sequences(self, df: DataFrame) -> DataFrame:
        """Aggregate packed view: one row per training sequence with its
        member doc ids (in order) and total token count — what a shard
        writer materializes."""
        packed = self.apply(df).filter(F.col("pack_bucket").isNotNull())
        tok = self._tokens()
        return (
            packed.withColumn("__tok", tok)
            .groupBy("pack_bucket", "seq_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("seq_offset"), F.col(self.id_col).alias("id")))
                ).alias("__m"),
                F.sum("__tok").alias("n_tokens"),
                F.count(F.lit(1)).alias("n_docs"),
            )
            .select(
                "pack_bucket",
                "seq_id",
                F.col("__m.id").alias("doc_ids"),
                "n_tokens",
                "n_docs",
            )
        )


    def packed_token_ids(
        self,
        df: DataFrame,
        tokens_col: str = "bpe_token_ids",
        *,
        out_col: str = "tokens",
        eos_id: int | None = None,
    ) -> DataFrame:
        """Materialize the training shards themselves: one row per
        ``(pack_bucket, seq_id)`` whose ``out_col`` is the concatenation
        of member documents' ``tokens_col`` arrays in packing order, cut
        at every ``seq_len`` tokens. Unlike ``apply``/``sequences`` (which
        assign a document to the sequence where it STARTS), here documents
        SPAN sequence boundaries — exact concat-then-chunk: every output
        array is exactly ``seq_len`` long except the final partial one per
        bucket, with no padding and no truncation loss (per-bucket
        concatenation in id order is reproduced verbatim).

        Token counts are ``size(tokens_col)`` — self-consistent with the
        array being chunked by construction, so the coordinates agree with
        ``apply(token_col=...)`` over the same counts.

        ``eos_id`` appends one end-of-document token to every document's
        array BEFORE packing (the GPT-style document delimiter trainers
        expect); it then counts toward the budget like any token, so the
        invariants (exact ``seq_len`` chunks, verbatim per-bucket
        concatenation of the delimited docs) are unchanged.

        Scale shape: coordinates reuse the one bucket-key window shuffle;
        the chunking is a posexplode (narrow) + ONE shuffle keyed on
        (bucket, seq) whose rows are (int, long, id) — each token id
        crosses the wire exactly once, i.e. shuffle volume == output
        volume, the floor for exact shard materialization. Per-group
        state is bounded by ``seq_len`` (collect_list of one sequence).
        """
        tagged = REJECTION_DETAILS_COL in df.columns
        if eos_id is not None:
            df = df.withColumn(
                tokens_col,
                F.when(
                    F.col(tokens_col).isNotNull(),
                    F.concat(F.col(tokens_col), F.array(F.lit(int(eos_id)).cast("int"))),
                ),
            )
        coords, _ = self._with_coords(df, F.size(F.col(tokens_col)).cast("long"), tagged)
        ex = (
            coords.filter(F.col("pack_bucket").isNotNull())
            .select(
                "pack_bucket",
                "__start",
                F.posexplode(F.col(tokens_col)).alias("__p", "__tid"),
            )
            .withColumn("__abs", F.col("__start") + F.col("__p"))
        )
        return (
            ex.groupBy(
                "pack_bucket",
                F.floor(F.col("__abs") / F.lit(self.seq_len)).cast("long").alias("seq_id"),
            )
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (F.col("__abs") % F.lit(self.seq_len)).alias("__off"),
                                F.col("__tid").alias("__t"),
                            )
                        )
                    ),
                    lambda s: s["__t"],
                ).alias(out_col),
                F.count(F.lit(1)).cast("long").alias("n_tokens"),
            )
        )


class DocumentChunker(Operator):
    """Split documents into overlapping ``chunk_tokens``-word windows, one
    OUTPUT ROW per chunk — the context-window preparation step (long-doc
    training prep, retrieval corpora): a 200k-word book becomes ~400
    512-word chunks whose ``overlap_tokens``-word overlap preserves
    cross-boundary context.

    Chunking is ASCII-whitespace-token based (Java regex ``\\s+`` — the
    engine-wide BPE/token-count convention; NBSP and other Unicode spaces
    are word characters) and re-joins words with single spaces (exact
    inter-word whitespace is not preserved — documented, and what makes
    the operator a pure Column expression mirrorable in ANSI SQL:
    tests/test_packing.py runs an independent-reimplementation
    differential). Output adds
    ``chunk_index`` (0-based), ``chunk_id`` (``{doc id}#{index}``),
    ``chunk_text`` and ``chunk_n_tokens`` next to every input column; the
    final window is the (possibly shorter) tail unless it would START past
    the text — start positions are ``0, stride, 2*stride, ...`` for
    ``stride = chunk_tokens - overlap_tokens``, kept while ``start <
    n_words`` and (for non-first chunks) ``start + overlap < n_words`` so
    a window containing ONLY re-seen overlap words is never emitted.
    Empty/NULL text yields one chunk with empty text (row accounting: a
    cardinality-changing operator must not silently drop documents —
    filter upstream).

    Scale shape: ``split`` + ``sequence`` + ``transform`` + ``posexplode``
    — zero Python, zero shuffle, codegen end to end; output rows carry
    only their own window's words (the full word array never leaves the
    expression), so memory per task is input-partition-sized regardless
    of document length.
    """

    def __init__(
        self,
        chunk_tokens: int = 512,
        *,
        overlap_tokens: int = 64,
        text_col: str = "text",
        id_col: str = "doc_id",
        name: str | None = None,
    ):
        super().__init__(name)
        if chunk_tokens < 1:
            raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
        if not 0 <= overlap_tokens < chunk_tokens:
            raise ValueError(
                f"overlap_tokens must be in [0, chunk_tokens), got {overlap_tokens}"
            )
        self.chunk_tokens = int(chunk_tokens)
        self.overlap_tokens = int(overlap_tokens)
        self.text_col = text_col
        self.id_col = id_col

    def apply(self, df: DataFrame) -> DataFrame:
        chunk, overlap = self.chunk_tokens, self.overlap_tokens
        stride = chunk - overlap
        # coalesce first: split(NULL) is NULL and size(NULL) = -1, which
        # would silently emit no chunk row for a NULL-text document
        words = F.filter(
            F.split(F.coalesce(F.col(self.text_col), F.lit("")), r"\s+"), lambda w: w != ""
        )
        n = F.size(words)
        # last valid start: the largest multiple of stride that still adds
        # unseen words — start <= n-1 and (start == 0 or start + overlap <= n-1)
        last_start = F.greatest(
            F.floor((n - F.lit(overlap + 1)) / F.lit(stride)) * F.lit(stride), F.lit(0)
        )
        starts = F.sequence(F.lit(0), last_start.cast("int"), F.lit(stride))
        chunks = F.transform(
            starts, lambda s: F.array_join(F.slice(words, s + 1, chunk), " ")
        )
        pos = F.posexplode(chunks)
        # replace, don't append: re-applying to a frame already carrying
        # chunk_* columns must not create duplicate names ->
        # ambiguous-reference AnalysisException
        produced = {"chunk_index", "chunk_text", "chunk_id", "chunk_n_tokens"}
        base = df.drop(*[c for c in df.columns if c in produced])
        out = base.select("*", pos.alias("chunk_index", "chunk_text"))
        return (
            out.withColumn(
                "chunk_id",
                # coalesce: concat_ws SKIPS a NULL id, which would collide
                # chunk ids across every NULL-id document ("0" == "0");
                # NULL-id docs still collide with each other — ids are the
                # caller's identity contract (the dedup id_col caveat)
                F.concat_ws(
                    "#",
                    F.coalesce(F.col(self.id_col).cast("string"), F.lit("null")),
                    F.col("chunk_index"),
                ),
            )
            .withColumn(
                "chunk_n_tokens",
                F.when(F.col("chunk_text") == "", F.lit(0)).otherwise(
                    F.size(F.split(F.col("chunk_text"), " "))
                ),
            )
        )


def deterministic_shuffle(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    salt: str | None = "shuffle",
    num_partitions: int | None = None,
    rank_col: str | None = None,
) -> DataFrame:
    """Reproducible global shuffle — the final step before training
    consumes packed sequences (correlated neighbors from packing/dedup
    order hurt SGD; every training stack shuffles its shards).

    ``df.orderBy(rand())`` is neither reproducible nor resumable. Here
    every row gets a stable md5-derived rank (``hash64(id # salt)``), then
    the frame is hash-repartitioned on that rank and sorted within
    partitions. Because Spark's hash partitioning (murmur3 on the rank
    value, mod N) and the in-partition sort are both pure functions of the
    DATA, the resulting permutation — which rows share an output file, and
    their order inside it — is identical across runs, cluster sizes, and
    input layouts for a fixed ``num_partitions``. A different ``salt``
    gives an independent permutation (fresh shuffle per epoch, the same
    seed-family convention as the samplers).

    Scale shape: ONE shuffle, no global sort (a total ``orderBy`` funnels
    range boundaries through a driver sample and is pointless here — files
    need not be globally ordered, just deterministically permuted);
    partitions are balanced because md5 ranks are uniform. ``rank_col``
    keeps the rank as a column for audit/resume instead of dropping it.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    from mega_data_factory_spark.functions.hashing import hash64_from_md5

    rank = hash64_from_md5(id_col, seed=salt)
    keep = rank_col or "__shuffle_rank"
    out = (
        df.withColumn(keep, rank)
        # rank ties (hash collisions / duplicate ids) break on the id so
        # the permutation stays total and deterministic
        .repartition(n, F.col(keep))
        .sortWithinPartitions(F.col(keep), F.col(id_col))
    )
    return out if rank_col else out.drop(keep)


def _mix64(x):
    """splitmix64 finalizer over numpy uint64 (vectorized, wraps mod 2^64).
    The deterministic 'randomness' primitive for span placement — no RNG
    state, reproducible across runs/partitions/numpy versions, and simple
    enough that the differential test reimplements it independently."""
    import numpy as np

    z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z ^= z >> np.uint64(30)
    z = (z * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    z ^= z >> np.uint64(27)
    z = (z * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    z ^= z >> np.uint64(31)
    return z


def _hash_segment(total: int, parts: int, seed, tag: int):
    """Split ``total`` into ``parts`` positive integer segments, the break
    points chosen by ranking the ``total-1`` internal positions on their
    mixed hash — the deterministic analog of t5's _random_segmentation."""
    import numpy as np

    if parts <= 1:
        return np.array([total], dtype=np.int64)
    pos = np.arange(1, total, dtype=np.uint64)
    h = _mix64(seed ^ (pos * np.uint64(0xC2B2AE3D27D4EB4F) + np.uint64(tag)))
    breaks = np.sort(pos[np.argsort(h, kind="stable")[: parts - 1]].astype(np.int64))
    return np.diff(np.concatenate(([0], breaks, [total])))


class SpanCorruptionBuilder(Refiner):
    """T5-style span-corruption examples (Raffel et al. 2020, §3.3.4 —
    the 'random spans' objective of the published t5 codebase's
    ``random_spans_noise_mask``) over packed token sequences: mask
    ``noise_density`` of each row's tokens as contiguous spans of mean
    length ``mean_span``, emitting ``input_ids`` (each masked span
    collapsed to one sentinel token) and ``target_ids`` (per span, its
    sentinel followed by the masked tokens, closed by one final
    sentinel). The encoder-decoder counterpart of the GPT-style
    ``packed_token_ids`` shards — the last mile of the text->training
    export path for denoising objectives. Beyond the reference's surface
    — first-class per the build brief.

    DETERMINISTIC by construction where t5 draws randomness: span
    placement derives from splitmix64-mixed position hashes seeded by
    ``xxhash64(*seed_cols, salt)`` — reproducible across runs, engines,
    and partitionings (the stable-hash Gumbel-top-k discipline of DSIR),
    so re-running the export rebuilds byte-identical shards.

    Sentinels descend from ``sentinel_start`` (t5 convention: extra ids
    at the top of the vocabulary, sentinel_k = start - k); supply
    ``sentinel_start >= vocab_size + max_spans`` headroom. Rows with
    fewer than 2 tokens cannot be corrupted: input passes through
    unchanged with an EMPTY target (trainers drop empty-target rows);
    NULL token arrays yield NULL input/target.

    Scale shape: one Arrow crossing per batch (numpy per row, no Python
    loops over tokens), zero shuffle, bytes-in == tokens-out; the struct
    UDF is materialized exactly once (``Refiner``'s private UDF binding —
    the N-fold-evaluation guard). Not SQL-expressible (hash-rank
    segmentation); the pytest bar is an independent pure-python
    reimplementation plus reconstruction/density/determinism properties
    (tests/test_packing.py), the k-means/PQ discipline.
    """

    def __init__(
        self,
        *,
        tokens_col: str = "tokens",
        seed_cols: tuple[str, ...] = ("pack_bucket", "seq_id"),
        sentinel_start: int | None = None,
        noise_density: float = 0.15,
        mean_span: float = 3.0,
        salt: str = "span",
        name: str | None = None,
    ):
        super().__init__(name)
        if sentinel_start is None:
            raise ValueError("sentinel_start is required (t5 convention: vocab top — e.g. vocab_size + 99)")
        if int(sentinel_start) <= 0:
            # sentinels descend from here; 0/negative ids guarantee
            # collision with real token ids and an unspliceable target
            raise ValueError(f"sentinel_start must be positive, got {sentinel_start}")
        if not 0.0 < noise_density < 1.0:
            raise ValueError(f"noise_density must be in (0, 1), got {noise_density}")
        if mean_span < 1.0:
            raise ValueError(f"mean_span must be >= 1, got {mean_span}")
        if not seed_cols:
            raise ValueError("seed_cols must name at least one column")
        self.tokens_col = tokens_col
        self.seed_cols = tuple(seed_cols)
        self.sentinel_start = int(sentinel_start)
        self.noise_density = float(noise_density)
        self.mean_span = float(mean_span)
        self.salt = salt

    # one corruption per row
    def _udf(self):
        import numpy as np
        import pandas as pd

        density, mean_span, start = self.noise_density, self.mean_span, self.sentinel_start

        def corrupt(tokens, seed64) -> tuple:
            n = len(tokens)
            if n < 2:
                return list(tokens), []
            seed = np.uint64(seed64 & 0xFFFFFFFFFFFFFFFF)
            num_noise = int(min(max(round(n * density), 1), n - 1))
            num_spans = int(max(1, round(num_noise / mean_span)))
            num_spans = min(num_spans, num_noise, n - num_noise)
            noise_lens = _hash_segment(num_noise, num_spans, seed, tag=1)
            plain_lens = _hash_segment(n - num_noise, num_spans, seed, tag=2)
            # interleave [plain_0, noise_0, plain_1, noise_1, ...]
            seg = np.ravel(np.column_stack([plain_lens, noise_lens]))
            pieces = np.split(np.asarray(tokens, dtype=np.int64), np.cumsum(seg)[:-1])
            inp, tgt = [], []
            for k in range(num_spans):
                sent = start - k
                inp.append(pieces[2 * k])
                inp.append(np.array([sent], dtype=np.int64))
                tgt.append(np.array([sent], dtype=np.int64))
                tgt.append(pieces[2 * k + 1])
            tgt.append(np.array([start - num_spans], dtype=np.int64))
            return (
                np.concatenate(inp).astype(np.int32).tolist(),
                np.concatenate(tgt).astype(np.int32).tolist(),
            )

        # single struct argument, no type annotations: the struct arrives
        # as a pd.DataFrame and the return type comes from the decorator
        # string (the AudioSpectralFeaturesRefiner signature discipline)
        @F.pandas_udf("input_ids array<int>, target_ids array<int>")
        def span_udf(packed):
            rows = []
            for t, s in zip(packed["t"], packed["s"]):
                if t is None:
                    rows.append({"input_ids": None, "target_ids": None})
                else:
                    i, g = corrupt(t, int(s))
                    rows.append({"input_ids": i, "target_ids": g})
            return pd.DataFrame(rows)

        return span_udf

    def _seed(self) -> Column:
        return F.xxhash64(*[F.col(c) for c in self.seed_cols], F.lit(self.salt))

    def _packed_input(self) -> Column:
        return F.struct(F.col(self.tokens_col).alias("t"), self._seed().alias("s"))

    def udf_columns(self, df: DataFrame) -> dict[str, Column]:
        # the nondeterministic-marked UDF struct exactly once under a
        # private key, fields read BY NAME (Refiner docstring)
        return {"__span_once": self._udf().asNondeterministic()(self._packed_input())}

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        return {"input_ids": "`__span_once`.input_ids", "target_ids": "`__span_once`.target_ids"}


SENT_SEP = "\x1e"  # record separator: the in-plan sentence boundary sentinel
SENT_WS = "[ \\t\\x0B\\f\\r\\n]+"  # explicit class — Java/RE2 identical


class SentenceChunker(Operator):
    """Sentence-boundary-aware chunking — the RAG/context-window prep that
    :class:`DocumentChunker`'s fixed word windows can't give: chunks never
    cut mid-sentence. Sentences split after terminal-punctuation runs
    (``.!?``) followed by whitespace; each sentence is assigned to chunk
    ``floor(words_before / chunk_tokens)`` — the SequencePacker
    "assigned where it starts" closed form, so a chunk holds whole
    sentences and exceeds the budget by at most its final straddling
    sentence. One output row per (doc, chunk) with ``chunk_index``
    (DENSE 0-based order — a budget-busting single sentence does not
    leave index gaps), ``chunk_id``, ``chunk_text`` (sentences joined by
    single spaces), ``chunk_n_sentences``, ``chunk_n_tokens``;
    empty/NULL/punctuation-free short text yields one chunk (cardinality
    accounting — a row-multiplying operator must not silently drop
    documents). ``id_col`` must identify rows uniquely (the
    SequencePacker contract): duplicate ids would merge their sentence
    streams; one NULL-id row is handled (null-safe join back), several
    merge like any duplicate key. Pre-existing ``\\x1e`` control chars in
    the text are stripped before use as the in-plan boundary sentinel.
    Beyond the reference's surface — first-class per the build brief.

    Scale shape: posexplode (narrow) + ONE doc-keyed window for the
    running word count + one (doc, chunk) groupBy rebuild — two compact
    shuffles carrying each sentence exactly once (the BoilerplateLine
    budget), no Python anywhere. A greedy fold-per-document HOF form
    would be zero-shuffle but quadratic interpreted array copies per
    document (the repetition-stats lesson); the closed-form assignment
    keeps it linear and — unlike greedy filling — exactly mirrorable in
    ANSI SQL window functions: tests/test_packing.py holds the
    driver-gate differential bar.
    """

    def __init__(
        self,
        chunk_tokens: int = 512,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        name: str | None = None,
    ):
        super().__init__(name)
        if chunk_tokens < 1:
            raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
        self.chunk_tokens = int(chunk_tokens)
        self.text_col = text_col
        self.id_col = id_col

    def apply(self, df: DataFrame) -> DataFrame:
        B = self.chunk_tokens
        # replace, don't append (the DocumentChunker rule): re-chunking a
        # frame already carrying chunk_* columns must not leave duplicate
        # names on both sides of the join-back -> AMBIGUOUS_REFERENCE
        produced = {"chunk_index", "chunk_id", "chunk_text", "chunk_n_sentences", "chunk_n_tokens"}
        df = df.drop(*[c for c in df.columns if c in produced])
        # strip any pre-existing sentinel first: uncleaned crawl text can
        # carry \x1e, which would otherwise split fake sentences mid-phrase
        cleaned = F.regexp_replace(
            F.coalesce(F.col(self.text_col), F.lit("")), SENT_SEP, " "
        )
        marked = F.regexp_replace(cleaned, f"([.!?]+){SENT_WS}", "$1" + SENT_SEP)
        sents = df.select(
            F.col(self.id_col).alias("__id"),
            F.posexplode(F.split(marked, SENT_SEP)).alias("__pos", "__sent"),
        ).withColumn(
            "__w",
            F.size(F.filter(F.split(F.col("__sent"), SENT_WS), lambda w: w != "")),
        ).filter(F.col("__w") > 0)
        w = Window.partitionBy("__id").orderBy("__pos")
        assigned = sents.withColumn(
            "__chunk",
            F.floor(
                (F.sum("__w").over(w) - F.col("__w")).cast("double") / F.lit(float(B))
            ).cast("int"),
        )
        chunks = assigned.groupBy("__id", "__chunk").agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__sent"))),
                    lambda s: s["__sent"],
                ),
            ).alias("chunk_text"),
            F.count(F.lit(1)).cast("int").alias("chunk_n_sentences"),
            F.sum("__w").cast("long").alias("chunk_n_tokens"),
        )
        # DENSE index: a single over-budget sentence advances the raw
        # floor() id by several — rank the per-doc chunk ids so consumers
        # can rely on 0..n_chunks-1 (the DocumentChunker contract). The
        # window runs over the already-grouped chunk rows, not sentences.
        dw = Window.partitionBy("__id").orderBy("__chunk")
        chunks = chunks.withColumn(
            "__dense", (F.row_number().over(dw) - F.lit(1)).cast("int")
        )
        # null-safe equi-join back: a plain `on=` never matches a NULL id
        # and would silently blank that document's chunks
        out = df.join(
            chunks, on=df[self.id_col].eqNullSafe(chunks["__id"]), how="left"
        ).drop("__id")
        # all-blank documents produced no sentence rows -> one empty chunk
        return out.select(
            *[F.col(c) for c in df.columns],
            F.coalesce(F.col("__dense"), F.lit(0)).cast("int").alias("chunk_index"),
            # coalesce the id half: concat_ws SKIPS a NULL id, which would
            # collapse a NULL-id doc's chunk_id to a bare index ('0') that
            # no longer parses as id#index; 'null' is DocumentChunker's
            # sentinel — the two chunkers must agree so chunk streams join
            F.concat_ws(
                "#",
                F.coalesce(F.col(self.id_col).cast("string"), F.lit("null")),
                F.coalesce(F.col("__dense"), F.lit(0)).cast("string"),
            ).alias("chunk_id"),
            F.coalesce(F.col("chunk_text"), F.lit("")).alias("chunk_text"),
            F.coalesce(F.col("chunk_n_sentences"), F.lit(0)).cast("int").alias("chunk_n_sentences"),
            F.coalesce(F.col("chunk_n_tokens"), F.lit(0)).cast("long").alias("chunk_n_tokens"),
        )
