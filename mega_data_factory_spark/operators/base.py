"""Operator abstractions: Refiner / Filter / Deduplicator as DataFrame
transforms.

Re-expresses the reference's operator algebra (framework/operator.py:206-382):

  * ``Refiner``       — adds columns (projection extension), reference
                        ``refine_batch`` (operator.py:206-223);
  * ``Filter``        — keep/reject predicate with an optional rejected side
                        output carrying ``_rejection_details``
                        (operator.py:226-268);
  * ``Deduplicator``  — first-seen-wins on a derived key with representative
                        tracking (operator.py:271-382, backend.py:13-226).

Spark-first design decisions:
  * every operator is a pure ``DataFrame -> DataFrame`` transform, so a
    pipeline is one Catalyst plan — pushdown/pruning/codegen work across
    operator boundaries (the reference's CombinedOperator fusion is free);
  * filters expose a Column ``predicate`` so Catalyst can push it into the
    scan; Python only appears when a Refiner genuinely needs it;
  * dedup is a hash-shuffle window: ``row_number() over (partition by key
    order by order_col)`` — the shuffle *is* the reference's sharded
    seen-set (backend.py:134-143), with a deterministic ``min(order_col)``
    tie-break replacing the reference's racy arrival order (backend.py:39-47);
  * the rejected side output is computed by tagging rows in a single pass
    (``Pipeline._apply``'s ``_rejection_details`` when-tagging), so a
    pipeline can split passed/rejected without scanning the source twice.

At 100 TB: refiner/filter chains are narrow (no shuffle at all); each
deduplicator contributes exactly one shuffle keyed on its dedup key, and AQE
skew-join/partition-coalescing handles hot keys.
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

REJECTION_DETAILS_COL = "_rejection_details"
# the nullable tag column's DDL — ONE definition for the batch builder and
# the streaming runner (they used to carry drift-prone inline copies)
REJECTION_STRUCT_DDL = "struct<reason:string,operator:string,dedup_key:string,representative_id:string>"


def rejection_details_sql(
    reason: str, operator: str, dedup_key: str = "null", representative_id: str = "null"
) -> str:
    """Typed ``_rejection_details`` struct (reference operator.py:258-263,
    343-353) — kept as a real StructType, not JSON. ``reason`` and
    ``operator`` are python strings; ``dedup_key`` and
    ``representative_id`` are SQL fragments, NULL by default (the filtered
    case). Spelled ``struct(x AS name)``, which resolves to the same
    CreateNamedStruct as ``named_struct``."""
    from mega_data_factory_spark.functions.text import sql_string_literal

    return (
        f"struct(cast({sql_string_literal(reason)} as string) AS reason, "
        f"cast({sql_string_literal(operator)} as string) AS operator, "
        f"cast({dedup_key} as string) AS dedup_key, "
        f"cast({representative_id} as string) AS representative_id)"
    )


def rejection_details(
    reason: str, operator: str, dedup_key: str = "null", representative_id: str = "null"
) -> Column:
    """Column form of :func:`rejection_details_sql`."""
    return F.expr(rejection_details_sql(reason, operator, dedup_key, representative_id))


def with_sql_columns(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """``df`` plus ``name -> SQL expression`` columns in ONE ``selectExpr``
    round trip. A name that already exists is REPLACED in its original
    position, matched case-insensitively the way ``withColumns`` matches
    it under the default resolver; new names append in order."""
    from mega_data_factory_spark.functions.text import sql_ident

    def item(k: str) -> str:
        return f"{exprs[k]} AS {sql_ident(k, literal=True)}"

    pending = {k.lower(): k for k in exprs}
    head = ["*"]
    if any(c.lower() in pending for c in df.columns):
        head = []
        for c in df.columns:
            k = pending.pop(c.lower(), None)
            head.append(sql_ident(c, literal=True) if k is None else item(k))
    return df.selectExpr(*head, *[item(k) for k in pending.values()])


class Operator(ABC):
    """A named DataFrame transform. ``name`` doubles as the registry key and
    the ``operator`` field of rejection details / metrics rows."""

    def __init__(self, name: str | None = None):
        self.name = name or type(self).__name__

    @abstractmethod
    def apply(self, df: DataFrame) -> DataFrame:
        """Return the passed/enriched DataFrame."""

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.apply(df)


# Each operator expression is authored ONCE. Where Spark SQL can spell it
# (every name-parameterized expression), the authored form is SQL text —
# the *_sql hooks below — and the Column form is that text through F.expr:
# py4j costs ~2-4 ms per Column call on the bench hosts, so one parse per
# expression instead of dozens of composed calls is what keeps cold plan
# builds cheap. Expressions SQL cannot spell (Python UDFs, higher-order
# Column compositions) are authored as Columns instead, and their *_sql
# hook stays None for every parameterization of the class.


class Refiner(Operator):
    """Adds columns; never drops rows. Subclasses author either
    ``columns_sql_text`` (SQL text) or ``columns`` (Columns), never both;
    ``derived_columns`` optionally adds a second projection whose
    expressions reference the FIRST projection's columns BY NAME — the
    contract for thresholds over UDF scores (``is_aigc = score >= t``):
    repeating the score expression in ``columns`` would evaluate the UDF
    twice, and overriding ``apply`` alone would be silently bypassed by
    ``Pipeline._apply``, which routes Refiners through these two hooks.

    A ``columns`` key starting with ``__`` is a refiner-private
    intermediate: it is visible to ``derived_columns`` (the struct-once
    geometry for multi-field UDFs — emit the struct once, extract fields
    by name) and DROPPED from the output by both apply() and the pipeline
    path."""

    def columns_sql_text(self, df: DataFrame) -> dict[str, str] | None:
        """The projection as SQL text: new column name -> SQL fragment.
        The pipeline folds the whole projection — alive gate included —
        into ONE ``selectExpr`` round trip. None for a class that authors
        :meth:`columns` as Columns instead."""
        return None

    def columns(self, df: DataFrame) -> dict[str, Column]:
        """New column name -> expression (by default, the parsed
        :meth:`columns_sql_text`)."""
        texts = self.columns_sql_text(df)
        if texts is None:
            raise NotImplementedError(f"{type(self).__name__} authors neither columns nor columns_sql_text")
        return {k: F.expr(s) for k, s in texts.items()}

    def derived_columns(self, df: DataFrame) -> dict[str, Column]:
        """Second-stage columns over the ``columns`` output (by name)."""
        return {}

    def apply(self, df: DataFrame) -> DataFrame:
        cols = self.columns(df)
        out = df.withColumns(cols)
        derived = self.derived_columns(out)
        if derived:
            out = out.withColumns(derived)
        tmp = [k for k in cols if k.startswith("__")]
        return out.drop(*tmp) if tmp else out


class Filter(Operator):
    """Keep rows where the predicate holds; rejected rows can be captured
    as a side output with rejection details. Subclasses author either
    ``predicate_sql`` (SQL text) or ``predicate`` (a Column), never both.

    Purity contract (``cacheable_predicate``): the predicate must be a
    PURE name-based builder — a function of the operator's immutable
    params and ``df.columns`` only, never of ``df``'s data, an action on
    ``df``, or mutable operator state. The pipeline relies on this to cache
    the built expression per (operator, schema) and reuse it across
    micro-batches (Pipeline._expr_cache). Every built-in Filter satisfies
    it (unresolved expressions bind at analysis time, so one expression
    serves every batch of the same schema). A custom Filter whose predicate
    consults data or mutable state MUST set ``cacheable_predicate = False``
    to opt out — otherwise a stale cached tag silently reuses the first
    batch's decision logic on every later micro-batch."""

    cacheable_predicate: bool = True

    def predicate_sql(self, df: DataFrame) -> str | None:
        """Boolean keep-condition as SQL text (NULL counts as reject). The
        pipeline parses its whole filter tag — alive gate, NULL-as-reject,
        rejection struct — around it in ONE round trip. None for a class
        that authors :meth:`predicate` as a Column instead."""
        return None

    def predicate(self, df: DataFrame) -> Column:
        """Boolean keep-condition (by default, the parsed
        :meth:`predicate_sql`). NULL counts as reject."""
        psql = self.predicate_sql(df)
        if psql is None:
            raise NotImplementedError(f"{type(self).__name__} authors neither predicate nor predicate_sql")
        return F.expr(psql)

    def keep(self, df: DataFrame) -> Column:
        return F.coalesce(self.predicate(df), F.lit(False))

    def apply(self, df: DataFrame) -> DataFrame:
        return df.filter(self.keep(df))

    def rejected(self, df: DataFrame) -> DataFrame:
        """Rejected rows with ``_rejection_details`` (reason='filtered')."""
        return df.filter(~self.keep(df)).withColumn(
            REJECTION_DETAILS_COL, rejection_details("filtered", self.name)
        )


# column a Column-authored dedup key is bound to, so the key wrappers
# below (NULL handling, window ranking, the pipeline tag) stay SQL text
RAW_KEY_COL = "__dedup_raw_key"


class Deduplicator(Operator):
    """First-seen-wins dedup on a derived key.

    The key is authored as SQL text (``key_sql``) or, where SQL cannot
    spell it (a Python UDF, a higher-order Column composition), as a
    Column (``key``) — never both. ``order_col`` defines "first" (the
    deterministic strengthening of the reference's arrival-order
    semantics). Survivors keep their columns; duplicates carry
    ``_rejection_details`` with ``dedup_key`` and ``representative_id`` =
    the survivor's id. Everything wrapped around the key — NULL handling,
    the window ranking, the pipeline's rejection tag — is SQL text over
    ``key_sql``; a Column-authored key is first bound to ``RAW_KEY_COL``
    and read from there.

    Purity contract (``cacheable_predicate``): like Filter predicates, the
    key must be a pure name-based builder (a function of immutable params
    and ``df.columns`` only) — the pipeline caches the built dedup-tag
    expression per (operator, schema) and reuses it across micro-batches.
    Subclasses whose key consults data or mutable state (e.g. a store
    snapshot re-read per batch) must set ``cacheable_predicate = False``.
    """

    cacheable_predicate: bool = True

    def __init__(
        self,
        name: str | None = None,
        *,
        order_col: str = "doc_id",
        id_col: str | None = None,
        wide_payload: bool = False,
        null_keys: str = "group",
    ):
        super().__init__(name)
        self.order_col = order_col
        self.id_col = id_col or order_col
        # null_keys: what a NULL dedup key MEANS.
        #   "group"    (default) — SQL PARTITION BY semantics: NULL-keyed
        #              rows form ONE group and dedup among themselves
        #              (right for "one row per customer" where NULL is a
        #              real category).
        #   "distinct" — a NULL key is NO identity: every NULL-keyed row
        #              survives and is never anyone's duplicate (right
        #              for derived identity keys — canonical URLs,
        #              fingerprints — where NULL means "could not derive";
        #              grouping there mass-drops unrelated rows).
        # Implemented by rewriting NULL keys to a per-row synthetic key
        # ("\x00N\x1f" + order value, unique because order_col is): one
        # plan shape for both modes, window and wide_payload paths alike.
        if null_keys not in ("group", "distinct"):
            raise ValueError(f"null_keys must be 'group' or 'distinct', got {null_keys!r}")
        self.null_keys = null_keys
        # wide_payload: rows carry a heavy column (image/audio bytes) that
        # must NOT go through the dedup shuffle. The window strategy
        # shuffles whole rows; the semi-join strategy shuffles only
        # (key, order) pairs to elect winners, then semi-joins the winner
        # ids back — with AQE that is a broadcast join (no movement of the
        # payload at all) until the winner set itself is huge, at which
        # point it degrades to an id-only shuffle, still never the bytes.
        # Requires order_col values to be unique (they are ids here) so
        # "min(order) per key" identifies exactly one winner row.
        self.wide_payload = wide_payload

    def key_sql(self, df: DataFrame) -> str | None:
        """Dedup key (string) as SQL text. None for a class that authors
        :meth:`key` as a Column instead."""
        return None

    def key(self, df: DataFrame) -> Column:
        """Dedup key expression (by default, the parsed :meth:`key_sql`)."""
        ksql = self.key_sql(df)
        if ksql is None:
            raise NotImplementedError(f"{type(self).__name__} authors neither key nor key_sql")
        return F.expr(ksql)

    def _key_source(self, df: DataFrame) -> tuple[Column | None, str]:
        """(Column to bind as ``RAW_KEY_COL`` or None, SQL text of the key
        on the bound frame) — the one entry point every key wrapper uses."""
        from mega_data_factory_spark.functions.text import sql_ident

        ksql = self.key_sql(df)
        if ksql is not None:
            return None, ksql
        return self.key(df), sql_ident(RAW_KEY_COL)

    def _missing_key_sql(self, df: DataFrame, key_sql: str) -> str:
        """True where the row has NO dedup identity (used by
        null_keys="distinct"). Default: the derived key is NULL; subclasses
        whose key sentinels NULLs (multi-column concat) override this to
        test the underlying columns."""
        return f"({key_sql} IS NULL)"

    def _effective_key_sql(self, df: DataFrame, key_sql: str) -> str:
        """The key with its NULL handling. A NULL order_col row has NO
        position in the dedup order: it can be neither a representative
        (it would win every NULLS FIRST window) nor a duplicate (of what?),
        so it always survives, in every null_keys mode (documented
        contract; order_col is ids in practice, so this is a malformed-row
        escape hatch, not a mode). Its synthetic key is concat_ws (never
        NULL) with a monotonic fallback: a bare concat yielded NULL
        whenever order_col was NULL, collapsing identity-less rows back
        into ONE group — the exact mass-drop "distinct" exists to prevent.
        monotonically_increasing_id is not stable across runs, but this
        key never surfaces: every row that gets one survives by
        construction. Control characters are spelled with Spark's
        string-literal escapes where one exists (``\\0`` for NUL) and raw
        otherwise (US, ``\\x1f``) — both parse to the same literal bytes."""
        from mega_data_factory_spark.functions.text import sql_ident

        o = sql_ident(self.order_col)
        unique = (
            "concat_ws('', '\\0N\x1f', coalesce(cast(" + o + " as string), "
            "concat_ws('', 'mi:', cast(monotonically_increasing_id() as string))))"
        )
        if self.null_keys == "distinct":
            m = self._missing_key_sql(df, key_sql)
            return f"CASE WHEN ({m} OR ({o} IS NULL)) THEN {unique} ELSE {key_sql} END"
        return f"CASE WHEN ({o} IS NULL) THEN {unique} ELSE {key_sql} END"

    def _keyed(self, df: DataFrame) -> tuple[DataFrame, str]:
        """``df`` (with a Column-authored key bound) and the SQL text of
        its effective key."""
        raw, ksql = self._key_source(df)
        if raw is not None:
            df = df.withColumn(RAW_KEY_COL, raw)
        return df, self._effective_key_sql(df, ksql)

    def _ranked(self, df: DataFrame) -> DataFrame:
        # the standalone query path — the pipeline tag has its own
        # one-expr spelling — builds its three columns via ONE F.expr each
        from mega_data_factory_spark.functions.text import sql_ident

        df, esql = self._keyed(df)
        over = f"OVER (PARTITION BY __dedup_key ORDER BY {sql_ident(self.order_col)})"
        return (
            df.withColumn("__dedup_key", F.expr(esql))
            .withColumn("__rn", F.expr(f"row_number() {over}"))
            .withColumn("__rep", F.expr(f"first({sql_ident(self.id_col)}) {over}"))
        )

    # NULL-group join sentinel: groupBy/Window treat NULL keys as one
    # group, but an equi-JOIN on the key never matches NULL — the wide
    # path's rejected() would silently lose every NULL-key duplicate.
    # Control chars make a collision with a real key practically
    # impossible (keys here are md5 hex / urls / column values).
    _NULL_GROUP = "\x00G\x1f"

    def _join_key_sql(self, key_sql: str) -> str:
        """NULL-safe join key over a key's SQL text."""
        from mega_data_factory_spark.functions.text import sql_string_literal

        return f"coalesce({key_sql}, {sql_string_literal(self._NULL_GROUP)})"

    def _winners(self, df: DataFrame) -> DataFrame:
        """(winner order value, join key) per dedup key — the compact
        election. Grouped on the NULL-safe ``__jk``."""
        df, esql = self._keyed(df)
        return (
            df.withColumn("__jk", F.expr(self._join_key_sql(esql)))
            .groupBy("__jk")
            .agg(F.min(F.col(self.order_col)).alias("__win_order"))
        )

    def apply(self, df: DataFrame) -> DataFrame:
        if self.wide_payload:
            win = self._winners(df).select(F.col("__win_order").alias(self.order_col))
            survivors = df.join(win, on=self.order_col, how="left_semi")
            # NULL-order rows always survive (_effective_key_sql contract)
            # but a semi-join on order_col can never match their NULL —
            # union them back rather than silently dropping them from BOTH
            # sides
            return survivors.unionByName(df.filter(F.col(self.order_col).isNull()))
        return self._ranked(df).filter("(__rn = 1)").drop("__dedup_key", "__rn", "__rep", RAW_KEY_COL)

    def rejected(self, df: DataFrame) -> DataFrame:
        if self.wide_payload:
            # representative id == winner's order value only when id_col IS
            # order_col (the common case); otherwise the winner election
            # cannot recover the representative's id and the window path
            # (which shuffles the payload) is the only correct plan — the
            # wide-payload saving is silently unavailable there.
            if self.id_col == self.order_col:
                win = self._winners(df)
                kdf, esql = self._keyed(df)
                keyed = kdf.withColumn("__dedup_key", F.expr(esql)).withColumn(
                    "__jk", F.expr(self._join_key_sql("__dedup_key"))
                )
                dups = keyed.join(win, on="__jk", how="inner").filter(
                    F.col(self.order_col) != F.col("__win_order")
                )
            else:
                dups = self._ranked(df).filter(F.col("__rn") > 1).withColumnRenamed("__rep", "__win_order")
            return dups.withColumn(
                REJECTION_DETAILS_COL,
                rejection_details("duplicate", self.name, "__dedup_key", "cast(__win_order as string)"),
            ).drop("__dedup_key", "__jk", "__win_order", "__rn", "__rep", RAW_KEY_COL)
        dups = self._ranked(df).filter("(__rn > 1)")
        return dups.withColumn(
            REJECTION_DETAILS_COL,
            rejection_details("duplicate", self.name, "__dedup_key", "cast(__rep as string)"),
        ).drop("__dedup_key", "__rn", "__rep", RAW_KEY_COL)


class JoinDeduplicator(Deduplicator):
    """Pair-emitting dedup base: subclasses implement ``_dup_pairs(df) ->
    (id_col, __rep)`` — one row per rejected id with its representative —
    and inherit ONE shared apply/rejected implementation. The anti-join
    and rejection tagging previously lived as near-identical copies in
    eight classes and had already drifted (reason threading, join ``how``).
    ``rejection_reason`` customizes the tag (DecontaminationFilter:
    "contaminated"). ``key`` is deliberately unavailable — these dedups
    are defined over pairs, not a single-key window (``Pipeline`` routes
    them through ``_dup_pairs`` directly)."""

    rejection_reason = "duplicate"

    def key(self, df: DataFrame) -> Column:  # pragma: no cover - guard
        raise NotImplementedError(f"{type(self).__name__} is not a single-key dedup")

    @abstractmethod
    def _dup_pairs(self, df: DataFrame) -> DataFrame:
        """(id_col, __rep) rows for every rejected id."""

    def _dup_pairs_memo(self, df: DataFrame) -> DataFrame:
        """``_dup_pairs(df)`` memoized on the INPUT FRAME's identity.
        apply() and rejected() (and update_store's re-apply) are routinely
        called with the same df in one batch; without the memo each call
        rebuilds the pair plan — and for the bloom-pruned incremental
        stores, plan construction is EAGER work (store count + full key
        scan + bitmap collect per BloomFilter.fit), so one batch paid the
        feature's dominant cost two or three times. Keyed on object
        identity: a new micro-batch frame is a new object, so the filter
        is still refit per batch (the staleness guarantee the incremental
        docstrings make); DataFrames are immutable, so reuse is safe.

        ``_memo_token`` guards EXTERNAL state: pure dedups are functions
        of df alone (the base token is a constant ``()`` that always
        matches; returning None DISABLES reuse), but the store-backed
        incrementals capture the seen-store's file listing at plan-build
        time — reusing that plan after ``update_store``/``compact_store``
        rewrote the directory would miss new keys or crash on deleted
        files, so their token (the store dir snapshot) changes and the
        memo rebuilds."""
        memo = getattr(self, "_pairs_memo", None)
        token = self._memo_token()
        if memo is not None and memo[0] is df and token is not None and memo[2] == token:
            return memo[1]
        pairs = self._dup_pairs(df)
        self._pairs_memo = (df, pairs, token)
        return pairs

    def _memo_token(self) -> object:
        """External-state fingerprint for the pairs memo. None from a
        STATEFUL subclass means "unknown" and disables reuse; the base
        returns a constant (no external state)."""
        return ()

    def apply(self, df: DataFrame) -> DataFrame:
        return anti_join_once(df, self._dup_pairs_memo(df), self.id_col)

    def rejected(self, df: DataFrame) -> DataFrame:
        return (
            df.join(self._dup_pairs_memo(df), on=self.id_col, how="inner")
            .withColumn(
                REJECTION_DETAILS_COL,
                rejection_details(self.rejection_reason, self.name, representative_id="cast(__rep as string)"),
            )
            .drop("__rep")
        )


def anti_join_once(df: DataFrame, dup_ids: DataFrame, id_col: str) -> DataFrame:
    """LEFT ANTI expressed as left-outer join + IS NULL filter.

    Catalyst's PushLeftSemiLeftAntiThroughJoin/Union rules push a LeftAnti
    join into each branch of a Union left side, CLONING the right-hand
    subplan per branch (measured on a 3-way union corpus: the dup-pairs
    plan — scans, explodes, self-join — appeared 3x with zero exchange
    reuse). The equivalent outer join is not pushed, so the dup-id subplan
    executes exactly once and the join itself is the same single hash
    shuffle. ``dup_ids`` must be unique per id (all dedup operators emit
    one row per duplicate), so the outer join cannot multiply rows.
    """
    marked = dup_ids.select(F.col(id_col)).withColumn("__is_dup", F.lit(1))
    return df.join(marked, on=id_col, how="left").filter(F.col("__is_dup").isNull()).drop("__is_dup")
