"""Operator abstractions: Refiner / Filter / Deduplicator as DataFrame
transforms.

Re-expresses the reference's operator algebra (framework/operator.py:206-382):

  * ``Refiner``       — adds columns (projection extension), reference
                        ``refine_batch`` (operator.py:206-223);
  * ``Filter``        — keep/reject predicate; rejected rows carry
                        ``_rejection_details`` (operator.py:226-268);
  * ``Deduplicator``  — first-seen-wins on a derived key with representative
                        tracking (operator.py:271-382, backend.py:13-226).

Every expression is authored once, as SQL text: a Refiner's
``columns_sql_text``, a Filter's ``predicate_sql``, a Deduplicator's
``key_sql``. What SQL cannot spell — a Python UDF call — is bound once
under a private ``__`` column that the SQL text reads by name
(``Operator.udf_columns``, read by Refiners and key Deduplicators; no
Filter calls Python).

The tag contract: every operator runs inside a pipeline through ONE
method, ``tag(df)``. ``df`` carries a nullable ``_rejection_details``
struct, NULL meaning alive; ``tag`` fills it for the alive rows the
operator rejects and leaves every other row's value as it was. Dead rows
take no part in the decision: they can neither absorb nor represent an
alive row, and a Refiner's projection is NULL on them. The batch pipeline
and the streaming runner apply every operator through ``tag``:

  * a Refiner's ``tag`` and ``apply`` are one projection that differs only
    in the alive gate;
  * a standalone Deduplicator's ``apply``/``rejected`` are the alive/dead
    rows of ``tag`` over its input with every row alive;
  * a Filter's ``apply``/``rejected`` stay plain ``filter`` calls over its
    SQL keep-condition, so the predicate still pushes into the scan;
  * a generic Operator's ``tag`` is its ``apply``, which keeps the tag
    column.

A Filter's or Deduplicator's ``tag`` builds its expressions once per
input schema (``df.columns``): unresolved expressions bind at analysis
time, so one build serves every micro-batch of a stream.

Spark-first design decisions:
  * every operator is a ``DataFrame -> DataFrame`` transform, so a
    pipeline is one Catalyst plan — pushdown/pruning/codegen work across
    operator boundaries (the reference's CombinedOperator fusion is free);
  * filters author a SQL ``predicate_sql`` so Catalyst can push it into
    the scan; Python only appears where an operator genuinely needs it,
    bound through ``udf_columns``;
  * dedup is ONE hash-shuffle window, ``rank() over (partition by key
    order by order_col)`` — the shuffle *is* the reference's sharded
    seen-set (backend.py:134-143), with a deterministic ``min(order_col)``
    first replacing the reference's racy arrival order (backend.py:39-47);
    rows tied first all survive, and first-wins is top-1 per key, so
    ``apply`` plans a partial WindowGroupLimit before the exchange;
  * tagging rather than splitting lets a pipeline write its passed and
    rejected sides without scanning the source twice.

At 100 TB: refiner/filter chains are narrow (no shuffle at all); each
deduplicator contributes exactly one shuffle keyed on its dedup key, and AQE
skew-join/partition-coalescing handles hot keys.
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mega_data_factory_spark.functions.text import sql_ident, sql_string_literal

REJECTION_DETAILS_COL = "_rejection_details"
_R = REJECTION_DETAILS_COL
# the nullable tag column's DDL — ONE definition for the batch builder and
# the streaming runner (they used to carry drift-prone inline copies)
REJECTION_STRUCT_DDL = "struct<reason:string,operator:string,dedup_key:string,representative_id:string>"
# the alive/dead row predicates as SQL text — the one spelling every
# runner and operator filters with (a Column per use is a py4j build each)
ALIVE_SQL = f"(`{_R}` IS NULL)"
DEAD_SQL = f"(`{_R}` IS NOT NULL)"


def rejection_details_sql(
    reason: str, operator: str, dedup_key: str = "null", representative_id: str = "null"
) -> str:
    """Typed ``_rejection_details`` struct (reference operator.py:258-263,
    343-353) — kept as a real StructType, not JSON. ``reason`` and
    ``operator`` are python strings; ``dedup_key`` and
    ``representative_id`` are SQL fragments, NULL by default (the filtered
    case). Spelled ``struct(x AS name)``, which resolves to the same
    CreateNamedStruct as ``named_struct``."""
    return (
        f"struct(cast({sql_string_literal(reason)} as string) AS reason, "
        f"cast({sql_string_literal(operator)} as string) AS operator, "
        f"cast({dedup_key} as string) AS dedup_key, "
        f"cast({representative_id} as string) AS representative_id)"
    )


def with_sql_columns(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """``df`` plus ``name -> SQL expression`` columns in ONE ``selectExpr``
    round trip. A name that already exists is REPLACED in its original
    position, matched case-insensitively the way ``withColumns`` matches
    it under the default resolver; new names append in order."""

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

    def tag(self, df: DataFrame) -> DataFrame:
        """``df`` through this operator inside a pipeline: a full-frame
        transform's ``apply``, which must keep the tag column."""
        return self.apply(df)

    def udf_columns(self, df: DataFrame) -> dict[str, Column]:
        """``__`` name -> a Python UDF call, bound before the operator's SQL
        text, which reads it by name — the one place any operator binds
        Python (Refiners and key Deduplicators bind it; no Filter calls
        Python). Each call is marked nondeterministic by its class: a
        deterministic UDF would be substituted into a downstream filter and
        also kept in the projection (two ArrowEvalPython passes per row).
        Bound once and read by name, it runs once per row."""
        return {}

    def _udf_bindings(self, df: DataFrame, *, gated: bool) -> dict[str, Column]:
        """:meth:`udf_columns`, each NULL on dead rows when ``gated``. The
        gate NULLs the value but does not stop the UDF scoring dead rows:
        Spark extracts the call into an ArrowEvalPython node below the
        gated projection, which sees every row (this is where an
        alive-only split of the UDF input would go)."""
        udfs = self.udf_columns(df)
        if gated:
            udfs = {k: F.when(F.expr(ALIVE_SQL), v) for k, v in udfs.items()}
        return udfs

    def _per_schema(self, df: DataFrame, build):
        """``build(df)``, built once per input schema. Tag expressions are
        functions of the operator's params and ``df.columns`` only, so
        rebuilding them per streaming micro-batch was pure py4j latency
        (~0.2 s per trigger on the bench stream)."""
        memo = self.__dict__.setdefault("_tag_memo", {})
        cols = tuple(df.columns)
        if cols not in memo:
            memo[cols] = build(df)
        return memo[cols]


# Each operator expression is authored ONCE, as SQL text — the *_sql hooks
# below — and parsed in one round trip: py4j costs ~2-4 ms per Column call
# on the bench hosts, so one parse per expression instead of dozens of
# composed calls is what keeps cold plan builds cheap. What SQL cannot
# spell (a Python UDF call) is bound once under a private ``__`` column by
# ``udf_columns`` and read by name from the SQL text.


class Refiner(Operator):
    """Adds columns; never drops rows. The one authoring rule: every
    output is SQL text (``columns_sql_text``), and a Python UDF call is
    bound once under a ``__`` name (``udf_columns``) that the SQL text
    reads by name. ``apply`` and ``tag`` are the same projection; ``tag``
    gates every column on the row being alive, so dead rows get NULL. A
    subclass that overrides ``apply`` must override ``tag`` too, or the
    pipeline keeps the hooks' projection.

    A ``__`` key is a private intermediate, projected FIRST and DROPPED
    from the output; there is one level of them. ``tag`` gates each output
    in its own CASE, and codegen CSE does not share a subexpression across
    CASE branches, so a value two outputs share (a result struct, a
    cleaned text, a UDF score) is bound once as a ``__`` key."""

    def columns_sql_text(self, df: DataFrame) -> dict[str, str]:
        """The projection as SQL text: new column name -> SQL fragment.
        The whole projection — alive gate included — is ONE ``selectExpr``
        round trip, two when it has ``__`` keys."""
        raise NotImplementedError(f"{type(self).__name__} authors no columns_sql_text")

    def columns(self, df: DataFrame) -> dict[str, Column]:
        """The parsed :meth:`columns_sql_text`, one Column per key."""
        return {k: F.expr(s) for k, s in self.columns_sql_text(df).items()}

    def apply(self, df: DataFrame) -> DataFrame:
        return self._project(df, gated=False)

    def tag(self, df: DataFrame) -> DataFrame:
        """``df`` plus the columns, NULL on dead rows."""
        return self._project(df, gated=True)

    def _project(self, df: DataFrame, *, gated: bool) -> DataFrame:
        """The UDF bindings, the private SQL keys, the outputs, then every
        ``__`` intermediate dropped. An existing output name is replaced in
        place, as ``withColumns`` would."""
        udfs, texts = self._udf_bindings(df, gated=gated), self.columns_sql_text(df)
        if gated:
            texts = {k: f"CASE WHEN {ALIVE_SQL} THEN {sql} END" for k, sql in texts.items()}
        private = {k: sql for k, sql in texts.items() if k.startswith("__")}
        out = df.withColumns(udfs) if udfs else df
        out = with_sql_columns(out, private) if private else out
        out = with_sql_columns(out, {k: sql for k, sql in texts.items() if k not in private})
        tmp = [*udfs, *private]
        return out.drop(*tmp) if tmp else out


class Filter(Operator):
    """Keep rows where the predicate holds (NULL counts as reject). The
    one authoring rule: the predicate is SQL text (``predicate_sql``), and
    ``apply``, ``rejected`` and ``tag`` all filter with the one keep-
    condition ``keep_sql`` around it. ``tag`` marks the alive rows that
    fail it 'filtered'; ``apply``/``rejected`` filter ``df`` directly."""

    @abstractmethod
    def predicate_sql(self, df: DataFrame) -> str:
        """Boolean keep-condition as SQL text (NULL counts as reject)."""

    def keep_sql(self, df: DataFrame) -> str:
        """The predicate with NULL read as reject."""
        return f"coalesce(({self.predicate_sql(df)}), false)"

    def apply(self, df: DataFrame) -> DataFrame:
        return df.filter(self.keep_sql(df))

    def rejected(self, df: DataFrame) -> DataFrame:
        """Rejected rows with ``_rejection_details`` (reason='filtered')."""
        out = df.filter(f"(NOT {self.keep_sql(df)})")
        return with_sql_columns(out, {_R: rejection_details_sql("filtered", self.name)})

    def tag(self, df: DataFrame) -> DataFrame:
        """``df`` with its alive rows that fail the predicate tagged."""
        return df.withColumn(_R, self._per_schema(df, self._tag_expr))

    def _tag_expr(self, df: DataFrame) -> Column:
        """Alive gate, NULL-as-reject and rejection struct parsed in ONE
        round trip around the SQL predicate."""
        return F.expr(
            f"CASE WHEN ({ALIVE_SQL} AND (NOT {self.keep_sql(df)})) "
            f"THEN {rejection_details_sql('filtered', self.name)} ELSE `{_R}` END"
        )


# column the effective dedup key is bound to for the length of one tag
KEY_COL = "__dedup_key"


class Deduplicator(Operator):
    """First-seen-wins dedup on a derived key.

    The key is authored as SQL text (``key_sql``); a Python UDF it needs
    is bound by ``udf_columns`` and read by name. ``order_col`` defines
    "first" (the deterministic strengthening of the reference's
    arrival-order semantics). ``tag`` marks every alive row after the first of its key
    'duplicate', with ``dedup_key`` and ``representative_id`` = the first
    row's id (rows tied first all survive; the least of their ids
    represents); ``apply`` keeps the survivors and ``rejected`` the
    duplicates of ``tag`` over ``df`` with every row alive. Everything
    wrapped around the key — NULL handling, the window ranking, the
    rejection struct — is SQL text over ``key_sql``.
    """

    def __init__(
        self,
        name: str | None = None,
        *,
        order_col: str = "doc_id",
        id_col: str | None = None,
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
        # ("\x00N\x1f" + order value): one plan shape for both modes.
        if null_keys not in ("group", "distinct"):
            raise ValueError(f"null_keys must be 'group' or 'distinct', got {null_keys!r}")
        self.null_keys = null_keys

    def key_sql(self, df: DataFrame) -> str:
        """Dedup key (string) as SQL text."""
        raise NotImplementedError(f"{type(self).__name__} authors no key_sql")

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
        escape hatch, not a mode). All such rows share the constant key
        ``\\0O\\x1f`` and tie at rank 1 there; a per-row nondeterministic
        key would keep the survivors filter out of the window (no
        WindowGroupLimit). Control characters are spelled with Spark's string-literal escapes
        where one exists (``\\0`` for NUL) and raw otherwise (US,
        ``\\x1f``) — both parse to the same literal bytes."""
        o = sql_ident(self.order_col)
        no_order = f"WHEN ({o} IS NULL) THEN '\\0O\x1f'"
        if self.null_keys == "distinct":
            m = self._missing_key_sql(df, key_sql)
            return (
                f"CASE {no_order} WHEN {m} THEN concat('\\0N\x1f', cast({o} as string)) "
                f"ELSE {key_sql} END"
            )
        return f"CASE {no_order} ELSE {key_sql} END"

    def tag(self, df: DataFrame) -> DataFrame:
        """``df`` with every alive row after the first of its key tagged."""
        keyed, tag = self._keyed(df)
        return keyed.withColumn(_R, tag).drop(KEY_COL)

    def _keyed(self, df: DataFrame) -> tuple[DataFrame, Column]:
        """(``df`` plus ``KEY_COL``, the window tag that reads it). A
        subclass may tag rows between the two (the seen-store lookup)."""
        udfs, key, tag = self._per_schema(df, self._tag_exprs)
        if not udfs:
            return df.withColumn(KEY_COL, key), tag
        return df.withColumns(udfs).withColumn(KEY_COL, key).drop(*udfs), tag

    def _tag_exprs(self, df: DataFrame) -> tuple[dict[str, Column], Column, Column]:
        """(the gated ``udf_columns`` bindings the key reads, the key to
        bind as ``KEY_COL``, the window tag).

        ``KEY_COL`` is the window's partition key: the effective key —
        the null_keys="distinct" contract (rows with no dedup identity
        each survive) — as a string for alive rows, and for dead rows a
        per-row sentinel so they can neither absorb nor represent alive
        rows. It is bound once and read by name, so the key (an md5 over
        normalized text for the exact dedups) is evaluated once per row
        and crosses the shuffle once: the window partition and the
        rejection struct's ``dedup_key`` sit in different plan nodes,
        where no subexpression elimination shares a repeated key text.
        The sentinel is concat_ws, never NULL: a bare concat made a dead
        NULL-id row's sentinel NULL, landing it in the alive NULL-key
        window partition where it (sorting NULLS FIRST on order_col)
        absorbed every alive NULL-key row as a "duplicate" of a dead
        representative.

        ``rank()`` lets every row tied first survive (the NULL-order
        partition is one such tie); a later row's representative is the
        least id among them — ``first(id)`` where id is order_col (tied
        rows share it, and no struct crosses the shuffle), else
        ``min(struct(order, id))``, since ``first`` would hang on the
        order ties arrived in. With no guard around ``rank``,
        ``apply``'s filter is ``rank <= 1`` and plans a partial
        WindowGroupLimit below the exchange.

        The tag is ONE projection with the window expressions inline: the
        earlier temp-column form (__dk/__rn/__rep across four withColumns
        + a drop) re-ran plan analysis per frame — pure driver latency
        that multiplies by micro-batch count under the streaming runner
        (measured ~0.2 s of the per-trigger floor). Both window functions
        share one window spec, so the physical plan is a single Window
        node."""
        ksql = self.key_sql(df)
        k, ic, oc = sql_ident(KEY_COL), sql_ident(self.id_col), sql_ident(self.order_col)
        key = F.expr(
            f"CASE WHEN {ALIVE_SQL} THEN cast({self._effective_key_sql(df, ksql)} as string) "
            f"ELSE concat_ws('', '\\0D\x1f', coalesce(cast({ic} as string), '')) END"
        )
        over = f"OVER (PARTITION BY {k} ORDER BY {oc})"
        rep = f"first({ic}) {over}"
        if ic != oc:
            rep = f"(min(struct({oc} AS o, {ic} AS i)) {over}).i"
        tag = F.expr(
            f"CASE WHEN ({ALIVE_SQL} AND (rank() {over} > 1)) "
            f"THEN {rejection_details_sql('duplicate', self.name, k, rep)} "
            f"ELSE `{_R}` END"
        )
        return self._udf_bindings(df, gated=True), key, tag

    def apply(self, df: DataFrame) -> DataFrame:
        return self._split(df, alive=True)

    def rejected(self, df: DataFrame) -> DataFrame:
        return self._split(df, alive=False)

    def _split(self, df: DataFrame, *, alive: bool) -> DataFrame:
        """The alive (``apply``) or dead (``rejected``) rows of ``tag`` over
        ``df`` with every row a candidate: the tag column starts NULL,
        replacing one the input carries, and the rows keep the input's
        column order."""
        tagged = self.tag(df.withColumn(_R, F.lit(None).cast(REJECTION_STRUCT_DDL)))
        if not alive:
            return tagged.filter(DEAD_SQL)
        out = tagged.filter(ALIVE_SQL)
        return out if _R in df.columns else out.drop(_R)


class JoinDeduplicator(Deduplicator):
    """Pair-emitting dedup base, for pair-defined near-dup rules only
    (MinHash bands, SimHash distance, n-gram Jaccard, shared spans,
    embeddings): subclasses implement ``_dup_pairs(df) -> (id_col,
    __rep)`` — one row per rejected id with its representative — and
    inherit ONE ``tag``, a left join against those pairs (``apply`` and
    ``rejected`` are its views, as for every Deduplicator).
    ``rejection_reason`` customizes the tag (DecontaminationFilter:
    "contaminated"). ``key_sql`` is deliberately unavailable. A dedup with one
    key per row — store-backed ones included — is a plain
    :class:`Deduplicator`: first-wins per key is the inherited window, and
    a pairs frame would re-embed the input plan and make ``Pipeline``
    cache it."""

    rejection_reason = "duplicate"

    @abstractmethod
    def _dup_pairs(self, df: DataFrame) -> DataFrame:
        """(id_col, __rep) rows for every rejected id."""

    def tag(self, df: DataFrame) -> DataFrame:
        """``df`` with every alive row that ``_dup_pairs`` over the alive
        rows names tagged. The pairs side embeds ``df``'s plan a second
        time, so a caller running several actions persists ``df`` first
        (``Pipeline`` does). No broadcast hint: the pairs frame is
        O(duplicates) — tiny on a clean corpus but O(n) on a near-dup-heavy
        one, where a forced broadcast OOMs the driver at scale. AQE sees
        the real size at runtime and broadcasts whenever it is small."""
        pairs = self._dup_pairs(df.filter(ALIVE_SQL)).withColumnRenamed(self.id_col, "__dup_id")
        joined = df.join(pairs, df[self.id_col] == F.col("__dup_id"), "left")
        hit = rejection_details_sql(self.rejection_reason, self.name, representative_id="`__rep`")
        dup = f"CASE WHEN ({ALIVE_SQL} AND (`__dup_id` IS NOT NULL)) THEN {hit} ELSE `{_R}` END AS `{_R}`"
        return joined.selectExpr(*[dup if c == _R else sql_ident(c, literal=True) for c in df.columns])


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
