"""CDC merge: A/C/D change-file application as ONE full-outer join pass.

Reproduces the reference's 11-outcome decision matrix
(``LRD/land_registry_monthly_update_database_updater.py:141-341,960-1013``)
— but where the reference runs 3-4 point queries plus a commit *per row*
(``iterrows`` at :960), this operator is a single distributed join:

    current ⟗ updates ON business key  →  when/otherwise cascade  →  new state

Decision matrix (op × existing state → outcome):

    op A (add):     identical → ignore            (:159-164)
                    live, values differ → change  (:166-183)
                    deleted → undelete + change   (:185-200)
                    missing → insert              (:202-212)
    op C (change):  identical → ignore            (:225-230)
                    live, values differ → change  (:232-246)
                    deleted → ignore              (:248-252)
                    missing → insert              (:254-270)
    op D (delete):  identical → delete (soft)     (:293-300)
                    live, values differ → change then delete (:302-318)
                    deleted → ignore              (:320-324)
                    missing → ignore              (:326-336)

"identical" = every value column equal with null-safe semantics (the
reference fills string NAs with '' before comparing — :677,682-704).
Soft deletes: ``is_deleted`` flips, ``deleted_datetime`` stamps; undelete
clears them. Audit stamps mirror db_add_row/db_change_row/db_delete_row/
db_undelete_row (:729-824).

Invariants (enforced, reference crashes via ``.one()`` otherwise):
≤1 row per key in the current state, ≤1 update per key per batch —
``validate_unique`` surfaces violations instead of silently picking one.

Scale: one shuffle by key (SMJ or shuffled hash, AQE picks; broadcast if
the update batch is small, which monthly CDC files are). No per-row
round-trips, no driver loops. Output overwrites the state table
(stage-directory-then-swap for atomicity without a table format).
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from land_registry_data_ingestion_spark.schema import OP_COLUMN

# Outcome vocabulary (op_outcome), feeding the A8 statistics operator.
OUTCOMES = [
    "add_ignore",
    "add_change",
    "add_undelete_change",
    "add_insert",
    "change_ignore",
    "change_change",
    "change_ignore_deleted",
    "change_insert",
    "delete_delete",
    "delete_change_delete",
    "delete_ignore_deleted",
    "delete_ignore_missing",
]
_OP_OF = dict(zip(OUTCOMES, "AAAACCCCDDDD"))


class MergeResult:
    """The merge's outputs, all projections of ONE annotated join (the
    joined cur/upd row space plus its ``_outcome`` column).

    ``new_state`` is the post-merge current state (live + soft-deleted).
    ``outcomes`` (one row per update: key, record_op, outcome),
    ``invalid_ops`` (updates whose op ∉ A/C/D or whose key is NULL — the
    reference raises) and ``transitions`` (one row per keyed update: key,
    old_live/old_<values>, new_live/new_<values> — the before/after
    images incremental view maintenance in ``operators/rollup.py`` reads
    to update aggregates in O(batch)) are built only when read: the store
    path writes ``new_state`` and takes its counters as observed metrics
    (:meth:`observed_state`), so it never plans them."""

    def __init__(self, annotated: DataFrame, sql: dict):
        self._annotated = annotated
        self._sql = sql

    def _state_of(self, annotated: DataFrame) -> DataFrame:
        q = self._sql
        return annotated.filter(f"NOT {q['phantom']}").selectExpr(
            q["key"], *q["values"], *q["audit"]
        )

    @cached_property
    def new_state(self) -> DataFrame:
        return self._state_of(self._annotated)

    def observed_state(self, observation: Observation) -> DataFrame:
        """``new_state`` whose action also reports the merge's outcome
        counters to ``observation``: one count per outcome in
        :data:`OUTCOMES`, taken on the annotated join BEFORE the phantom
        filter, so every update row counts once (filters do not push
        below an observation). :func:`observed_outcome_stats` turns them
        into ledger rows."""
        metrics = [
            F.expr(f"count(CASE WHEN _outcome = '{o}' THEN 1 END)").alias(o)
            for o in OUTCOMES
        ]
        return self._state_of(self._annotated.observe(observation, *metrics))

    @cached_property
    def outcomes(self) -> DataFrame:
        q = self._sql
        return self._annotated.filter(q["upd_exists"]).selectExpr(*q["outcomes"])

    @cached_property
    def invalid_ops(self) -> DataFrame:
        return self.outcomes.filter("outcome IN ('invalid_op', 'invalid_key')")

    @cached_property
    def transitions(self) -> DataFrame:
        q = self._sql
        return self._annotated.filter(q["upd_keyed"]).selectExpr(*q["transitions"])


def observed_outcome_stats(metrics: dict) -> list[dict]:
    """The non-zero ``(record_op, outcome, n_rows)`` counters of
    :meth:`MergeResult.observed_state`'s metrics — the rows
    :func:`merge_outcome_stats` would aggregate from ``outcomes`` for a
    batch with no NULL key and no op outside A/C/D, which the ingest gate
    rejects before any write."""
    return [
        {OP_COLUMN: _OP_OF[o], "outcome": o, "n_rows": n} for o, n in metrics.items() if n
    ]


def validate_unique(df: DataFrame, key_col: str) -> DataFrame:
    """Duplicate-key probe (A7): rows whose key appears more than once.

    The caller decides policy; the reference's ``.one()`` would crash.
    """
    return df.groupBy(key_col).agg(F.count("*").alias("n_rows")).filter(
        F.col("n_rows") > 1
    )


def cdc_merge(
    current: DataFrame,
    updates: DataFrame,
    key_col: str,
    value_cols: list[str],
    batch_timestamp: Column | None = None,
) -> MergeResult:
    """Apply an A/C/D update batch to the current state in one join pass.

    ``current`` must carry audit columns ``is_deleted`` (bool),
    ``created_datetime``/``updated_datetime``/``deleted_datetime``
    (timestamps, nullable); use :func:`init_state` to bootstrap them.
    ``updates`` carries the key, the value columns and ``record_op`` ∈ A/C/D.
    """
    ts = batch_timestamp if batch_timestamp is not None else F.current_timestamp()

    # Row-presence INDICATORS, not key nullability: a NULL-keyed row on
    # either side never equality-matches, so after the full-outer join it
    # surfaces with its own columns populated but its key NULL — testing
    # the key would misread it as "side absent". That misread made a
    # NULL-keyed update row vanish from outcomes/invalid_ops/ledger
    # (silent batch-accounting loss) and dropped a NULL-keyed state row
    # from new_state on every merge via three-valued filter logic.
    cur = current.withColumn("_cur_present", F.lit(True)).alias("cur")
    upd = updates.withColumn("_upd_present", F.lit(True)).alias("upd")
    joined = cur.join(upd, F.col(f"cur.{key_col}") == F.col(f"upd.{key_col}"), "full_outer")
    return _merge_from_joined(joined, key_col, value_cols, ts)


def cdc_merge_coderived(
    source: DataFrame,
    cur_filter: Column,
    cur_select: dict[str, Column],
    upd_filter: Column,
    upd_select: dict[str, Column],
    key_col: str,
    value_cols: list[str],
    batch_timestamp: Column | None = None,
) -> MergeResult:
    """Join-free :func:`cdc_merge` for the co-derived case (round 11,
    guide §2.4 "remove shuffles outright").

    When the current state and the update batch are both row-local
    projections of ONE source table whose join key is the source's own
    unique, non-null key — e.g. a snapshot and a change file derived from
    the same upstream extract — the full-outer join on that key matches
    every row only with itself, so the merge needs no join at all: each
    source row carries its own cur/upd sides. This builds the same
    ``cur``/``upd`` column spaces :func:`cdc_merge`'s join produces — as
    FLAT ``_cur_*``/``_upd_*`` columns gated on the side filter
    (``when(filter, expr)`` is NULL when the side is absent, exactly like
    outer-join nulls; a first struct-column form measured ~1.6× slower
    per row, the per-reference null-check + slot indirection of ~40
    GetStructField reads) — from a single scan with ZERO exchanges, and
    runs the identical decision cascade.

    CALLER CONTRACT (unverified here, this is what makes the rewrite
    equal to the join): the key expression in ``cur_select``/
    ``upd_select`` is the same source column, unique and non-null across
    ``source`` rows, and ``cur_filter``/``upd_filter`` are row-local
    predicates. Inputs that violate it (duplicate or NULL keys, keys that
    differ between the sides of one row) must use :func:`cdc_merge`.

    ``cur_select`` must provide the key, every value column and the
    audit columns (``is_deleted``, ``created_datetime``,
    ``updated_datetime``, ``deleted_datetime``); ``upd_select`` the key,
    value columns and ``record_op``.
    """
    from land_registry_data_ingestion_spark.util import spread

    ts = batch_timestamp if batch_timestamp is not None else F.current_timestamp()
    # spread: the join-free plan runs the decision cascade and the
    # aggregate partials ON the scan stage; a small replicated tier can
    # arrive as 1-2 splits, serializing that work. No-op once the input
    # has ≥ parallelism files (any real-scale table).
    source = spread(source)
    cur_cols = {**cur_select, "_cur_present": F.lit(True)}
    upd_cols = {**upd_select, "_upd_present": F.lit(True)}
    joined = source.filter(cur_filter | upd_filter).select(
        *[F.when(cur_filter, c).alias(f"_cur_{n}") for n, c in cur_cols.items()],
        *[F.when(upd_filter, c).alias(f"_upd_{n}") for n, c in upd_cols.items()],
    )
    return _merge_from_joined(
        joined,
        key_col,
        value_cols,
        ts,
        cur_prefix="_cur_",
        upd_prefix="_upd_",
    )


def _merge_from_joined(
    joined: DataFrame,
    key_col: str,
    value_cols: list[str],
    ts: Column,
    cur_prefix: str = "cur.",
    upd_prefix: str = "upd.",
) -> MergeResult:
    """Decision cascade + projections over the joined cur/upd row space —
    either a real full-outer join (alias-scoped "cur."/"upd." columns)
    or the co-derived flat form ("_cur_"/"_upd_" attributes).

    Every expression is SQL text over those names, parsed by the JVM in
    one ``selectExpr``/``filter`` per frame: building the same cascade
    from Column objects cost ~4,000 py4j round trips per merge."""

    def ref(prefix: str, n: str) -> str:
        n = n.replace("`", "``")
        return f"{prefix[:-1]}.`{n}`" if prefix.endswith(".") else f"`{prefix}{n}`"

    def cur(n: str) -> str:
        return ref(cur_prefix, n)

    def upd(n: str) -> str:
        return ref(upd_prefix, n)

    def name(n: str) -> str:
        return "`" + n.replace("`", "``") + "`"

    def is_in(*labels: str) -> str:
        return "_outcome IN (" + ", ".join(f"'{x}'" for x in labels) + ")"

    cur_exists = f"({cur('_cur_present')} IS NOT NULL)"
    upd_exists = f"({upd('_upd_present')} IS NOT NULL)"
    upd_keyed = f"({upd_exists} AND {upd(key_col)} IS NOT NULL)"
    cur_deleted = f"({cur_exists} AND {cur('is_deleted')})"
    cur_live = f"({cur_exists} AND NOT {cur('is_deleted')})"
    # null-safe conjunctive equality over every value column (P4)
    identical = f"({cur_live} AND " + " AND ".join(
        f"({cur(c)} <=> {upd(c)})" for c in value_cols
    ) + ")"
    op = upd(OP_COLUMN)

    # A NULL key can address no row (the reference's PK is NOT NULL — its
    # per-row path would fail the batch); surfaced like invalid ops so
    # callers can reject the batch, counted in the ledger's
    # input_file_row_count only.
    branches = " ".join(
        f"WHEN {op} = '{o}' THEN CASE WHEN {identical} THEN '{same}' "
        f"WHEN {cur_live} THEN '{live}' WHEN {cur_deleted} THEN '{deleted}' "
        f"ELSE '{missing}' END"
        for o, (same, live, deleted, missing) in zip(
            "ACD", [OUTCOMES[i : i + 4] for i in range(0, 12, 4)]
        )
    )
    outcome = (
        f"CASE WHEN NOT {upd_exists} THEN CAST(NULL AS STRING) "  # untouched state row
        f"WHEN NOT {upd_keyed} THEN 'invalid_key' {branches} ELSE 'invalid_op' END"
    )
    annotated = joined.withColumns({"_merge_ts": ts, "_outcome": F.expr(outcome)})

    takes_update_values = is_in(
        "add_change",
        "add_undelete_change",
        "add_insert",
        "change_change",
        "change_insert",
        "delete_change_delete",
    )
    deletes = is_in("delete_delete", "delete_change_delete")
    becomes_deleted = (
        f"({deletes} OR (_outcome IS NULL AND coalesce({cur('is_deleted')}, false)))"
    )
    becomes_undeleted = "(_outcome = 'add_undelete_change')"
    is_insert = is_in("add_insert", "change_insert")
    is_change = is_in(
        "add_change", "add_undelete_change", "change_change", "delete_change_delete"
    )
    is_deleted = (
        f"CASE WHEN {becomes_undeleted} THEN false WHEN {becomes_deleted} THEN true "
        f"ELSE coalesce({cur('is_deleted')}, false) END"
    )

    def new_value(c: str) -> str:
        return f"CASE WHEN {takes_update_values} THEN {upd(c)} ELSE {cur(c)} END"

    audit = [
        f"CASE WHEN {is_insert} THEN _merge_ts ELSE {cur('created_datetime')} END "
        "AS created_datetime",
        f"CASE WHEN {is_change} THEN _merge_ts ELSE {cur('updated_datetime')} END "
        "AS updated_datetime",
        f"CASE WHEN {becomes_undeleted} THEN CAST(NULL AS TIMESTAMP) "
        f"WHEN {deletes} THEN _merge_ts ELSE {cur('deleted_datetime')} END "
        "AS deleted_datetime",
        f"{is_deleted} AS is_deleted",
    ]

    # Cases where the update side exists but nothing may be inserted: a
    # delete aimed at a missing key (reference :326-336 ignores it), an
    # unrecognized/null op against a missing key, and any NULL-keyed
    # update — without these exclusions the full-outer join would
    # materialize a phantom row with the update's key (or NULL) and
    # all-NULL values/audit. An invalid op against an EXISTING key keeps
    # the current row untouched (takes_update_values is false), mirroring
    # "ignore"; the rows themselves are surfaced on
    # ``MergeResult.invalid_ops`` so callers can fail the batch the way
    # the reference's RuntimeError does (database_updater.py:1011-1013).
    # Both predicates are wrapped null-safe (outcome is NULL on untouched
    # state rows; a bare comparison would three-valued-drop them).
    #
    # phantom is stated over the BASE flags, not over _outcome (round 11,
    # guide §1.2/§4.4-class duplication with native expressions): filter
    # pushdown substitutes a referenced alias into the pushed predicate,
    # so `_outcome == ...` inlined the whole 12-way cascade into the
    # filter — the optimizer's NOT/null rewrites then multiplied it to
    # ~17 cascade copies per row (measured: the filter alone cost more
    # than the rest of the query; optimized plan carried 88 CASE WHENs).
    # The flag form is provably the same rows: with `miss` = the cascade
    # reached its op-branch `otherwise` (identical/cur_live/cur_deleted
    # all not-TRUE),
    #   _outcome = 'delete_ignore_missing' ⟺ upd_keyed ∧ op='D' ∧ miss
    #   _outcome = 'invalid_key'           ⟺ upd_exists ∧ ¬upd_keyed
    #   _outcome = 'invalid_op'            ⟺ upd_keyed ∧ op ∉ {A,C,D}
    # (each arm null-safe so phantom is never NULL).
    miss = (
        f"NOT coalesce({identical}, false) AND NOT coalesce({cur_live}, false) "
        f"AND NOT coalesce({cur_deleted}, false)"
    )
    phantom = (
        f"({upd_exists} AND ("
        f"({upd_keyed} AND coalesce({op} = 'D', false) AND {miss}) "
        f"OR (NOT {upd_keyed} AND NOT {cur_exists}) "
        f"OR ({upd_keyed} AND NOT coalesce({op} IN ('A', 'C', 'D'), false) "
        f"AND NOT {cur_exists})))"
    )
    sql = {
        "op": op,
        "upd_exists": upd_exists,
        "upd_keyed": upd_keyed,
        "phantom": phantom,
        "key": f"coalesce({cur(key_col)}, {upd(key_col)}) AS {name(key_col)}",
        "values": [f"{new_value(c)} AS {name(c)}" for c in value_cols],
        "audit": audit,
        "outcomes": [
            f"{upd(key_col)} AS {name(key_col)}",
            f"{op} AS {name(OP_COLUMN)}",
            "_outcome AS outcome",
        ],
        # Before/after images for IVM: same annotated probe, no extra
        # join. A touched row is live AFTER the merge iff it survives into
        # new_state and its final is_deleted is false (same expressions
        # the state projection uses). Keyed only: a NULL-keyed update
        # touches no state, so it has no before/after image — and a NULL
        # group key would pollute IVM rollups.
        "transitions": [
            f"{upd(key_col)} AS {name(key_col)}",
            f"{cur_live} AS old_live",
            *[f"{cur(c)} AS {name('old_' + c)}" for c in value_cols],
            f"NOT {phantom} AND NOT ({is_deleted}) AS new_live",
            *[f"{new_value(c)} AS {name('new_' + c)}" for c in value_cols],
        ],
    }
    return MergeResult(annotated, sql)


def init_state(
    snapshot: DataFrame, batch_timestamp: Column | None = None
) -> DataFrame:
    """Bootstrap audit columns on a freshly loaded snapshot (S11 load)."""
    ts = batch_timestamp if batch_timestamp is not None else F.current_timestamp()
    return (
        snapshot.withColumn("created_datetime", ts)
        .withColumn("updated_datetime", F.lit(None).cast("timestamp"))
        .withColumn("deleted_datetime", F.lit(None).cast("timestamp"))
        .withColumn("is_deleted", F.lit(False))
    )


def merge_outcome_stats(outcomes: DataFrame) -> DataFrame:
    """A8: per-(op, outcome) counts — the normalized form of the operation
    ledger (reference ``...database_updater.py:48-84,1059-1117``)."""
    return outcomes.groupBy(OP_COLUMN, "outcome").agg(F.count("*").alias("n_rows"))


def merge_ledger(outcomes: DataFrame) -> DataFrame:
    """A8 full parity: the reference's 17-counter operation-log row
    (``...database_updater.py:48-84`` defines the counters,
    ``:1059-1117`` assembles the row) as ONE conditional-sum aggregate
    over the outcomes frame — single pass, single output row.

    Counter mapping (reference column ← this engine's outcome labels):

    - ``input_file_row_count``            ← all updates
    - ``input_file_row_count_insert``     ← op = 'A'
    - ``input_file_row_count_update``     ← op = 'C'
    - ``input_file_row_count_delete``     ← op = 'D'
    - ``operation_count_insert``          ← add_insert + change_insert
    - ``operation_count_update``          ← add_change + change_change
                                            + add_undelete_change
    - ``operation_count_delete``          ← delete_delete + delete_change_delete
    - ``operation_count_ignored``         ← every *_ignore* outcome
    - ``operation_count_insert_insert``   ← add_insert
    - ``operation_count_insert_update``   ← add_change + add_undelete_change
    - ``operation_count_insert_ignore``   ← add_ignore (the reference's
      extra add_but_deleted_and_ignored leg is marked "[no longer in
      use]" there — adds to deleted keys take its *_changed* leg)
    - ``operation_count_update_update``   ← change_change
    - ``operation_count_update_insert``   ← change_insert
    - ``operation_count_update_ignore``   ← change_ignore + change_ignore_deleted
    - ``operation_count_delete_delete``   ← delete_delete
    - ``operation_count_delete_change_delete`` ← delete_change_delete
    - ``operation_count_delete_ignore``   ← delete_ignore_missing
                                            + delete_ignore_deleted

    ``invalid_op`` / ``invalid_key`` rows count in the
    ``input_file_row_count*`` totals only — no operation was performed
    (the reference fails the whole batch instead; callers get the same
    option via ``MergeResult.invalid_ops``).
    """
    o = F.col("outcome")
    op = F.col(OP_COLUMN)

    def cnt(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    return outcomes.agg(
        F.count("*").cast("long").alias("input_file_row_count"),
        cnt(op == "A", "input_file_row_count_insert"),
        cnt(op == "C", "input_file_row_count_update"),
        cnt(op == "D", "input_file_row_count_delete"),
        cnt(o.isin("add_insert", "change_insert"), "operation_count_insert"),
        cnt(
            o.isin("add_change", "change_change", "add_undelete_change"),
            "operation_count_update",
        ),
        cnt(o.isin("delete_delete", "delete_change_delete"), "operation_count_delete"),
        cnt(
            o.isin(
                "add_ignore",
                "change_ignore",
                "change_ignore_deleted",
                "delete_ignore_deleted",
                "delete_ignore_missing",
            ),
            "operation_count_ignored",
        ),
        cnt(o == "add_insert", "operation_count_insert_insert"),
        cnt(
            o.isin("add_change", "add_undelete_change"),
            "operation_count_insert_update",
        ),
        cnt(o == "add_ignore", "operation_count_insert_ignore"),
        cnt(o == "change_change", "operation_count_update_update"),
        cnt(o == "change_insert", "operation_count_update_insert"),
        cnt(
            o.isin("change_ignore", "change_ignore_deleted"),
            "operation_count_update_ignore",
        ),
        cnt(o == "delete_delete", "operation_count_delete_delete"),
        cnt(o == "delete_change_delete", "operation_count_delete_change_delete"),
        cnt(
            o.isin("delete_ignore_missing", "delete_ignore_deleted"),
            "operation_count_delete_ignore",
        ),
    )
