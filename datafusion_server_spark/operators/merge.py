"""Merge processor: the one dataflow operator the reference authors itself.

Reference semantics (/root/reference/lib/src/context/session.rs:550-656):

- **column direction** (session.rs:566-631): iterative INNER equi-join of a
  base table with N target tables on ``baseKeys = targetKeys``; target
  columns whose names collide with base columns are aliased to
  ``{table}_{col}``; the target's join-key columns are dropped from the
  output; the merged result replaces the base table's registration.
- **row direction** (session.rs:632-643): union of the base table with N
  target tables (by position in the reference; schemas must line up);
  ``options.distinct`` applies union-distinct; ``removeAfterMerged`` drops
  source tables afterwards (session_manager.rs:654-681).
- materialization (session.rs:646-652): the merged result is collected and
  re-registered in-memory — Spark-side it is persisted instead of
  collected to the driver, which is the 100 TB-safe equivalent (a
  stateless one-shot, which reads it once, skips the persist).

Scale notes: each column-merge join is a plain equi-join, so Catalyst/AQE
pick broadcast vs shuffled strategies from observed sizes; nothing here
forces a driver-side materialization.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from datafusion_server_spark.session import ServerSession


@dataclass(frozen=True)
class ColumnMergeTarget:
    """One target of a column-direction merge (request/body.rs:287-313)."""

    table: str
    base_keys: list[str]
    target_keys: list[str]


@dataclass(frozen=True)
class MergeProcessor:
    """Parsed ``processor.mergeProcessors[i]`` request entry."""

    direction: str  # "column" | "row"
    base_table: str
    targets: list[ColumnMergeTarget] = field(default_factory=list)  # column
    target_tables: list[str] = field(default_factory=list)  # row
    distinct: bool = False
    remove_after_merged: bool = False

    @staticmethod
    def from_json(payload: dict) -> "MergeProcessor":
        direction = payload["direction"]
        if direction == "column":
            targets = [
                ColumnMergeTarget(t["table"], list(t["baseKeys"]), list(t["targetKeys"]))
                for t in payload["targets"]
            ]
            for t in targets:
                if len(t.base_keys) != len(t.target_keys):
                    raise ValueError("baseKeys and targetKeys must have equal length")
            return MergeProcessor(direction, payload["baseTable"], targets=targets)
        if direction == "row":
            opts = payload.get("options", {})
            return MergeProcessor(
                direction,
                payload["baseTable"],
                target_tables=list(payload["targetTables"]),
                distinct=bool(opts.get("distinct", False)),
                remove_after_merged=bool(opts.get("removeAfterMerged", False)),
            )
        raise ValueError(f"unknown merge direction: {direction}")


def merge_column(base: DataFrame, targets: list[tuple[DataFrame, ColumnMergeTarget]]) -> DataFrame:
    """Column-direction merge (reference session.rs:566-631).

    For each target, inner-join on the key equality list, rename colliding
    non-key target columns to ``{table}_{col}``, and drop the target's key
    columns from the output.
    """
    merged = base
    for target_df, spec in targets:
        base_cols = set(merged.columns)
        renames: dict[str, str] = {}
        for col in target_df.columns:
            if col in spec.target_keys:
                continue
            if col in base_cols:
                # reference aliasing rule: colliding column -> {table}_{col}
                renames[col] = f"{spec.table}_{col}"
        t = target_df
        for old, new in renames.items():
            t = t.withColumnRenamed(old, new)
        # Join keys may themselves collide in name; alias the frames so the
        # equality condition is unambiguous, then drop target keys.
        m = merged.alias("__base__")
        t = t.alias("__target__")
        cond = None
        for bk, tk in zip(spec.base_keys, spec.target_keys):
            clause = m[f"__base__.{bk}"] == t[f"__target__.{tk}"]
            cond = clause if cond is None else (cond & clause)
        joined = m.join(t, cond, "inner")
        keep = [m[f"__base__.{c}"] for c in merged.columns] + [
            t[f"__target__.{c}"] for c in t.columns if c not in spec.target_keys
        ]
        merged = joined.select(*keep)
    return merged


def merge_row(base: DataFrame, targets: list[DataFrame], *, distinct: bool = False) -> DataFrame:
    """Row-direction merge (reference session.rs:632-643): positional union
    (DataFusion ``union`` is by position), optional distinct."""
    merged = base
    for t in targets:
        merged = merged.union(t)
    return merged.distinct() if distinct else merged


def execute_merge(sess: ServerSession, proc: MergeProcessor, *, persist: bool = True) -> DataFrame:
    """Run one merge processor against the ``ServerSession``'s views,
    register the result under the base table's name, and with
    ``removeAfterMerged`` drop the merged-in tables from the session
    (reference session.rs:646-652 + session_manager.rs:654-681).

    The result is persisted for a named session, which may query it many
    times. A stateless one-shot reads it once, so it passes
    ``persist=False``: building the cache cost it more than the cache
    saved (perfbench ``oneshot`` under the small plan, 4 cores, 10
    interleaved pairs: p50 363 -> 303 ms, 8 wins)."""
    spark = sess.spark
    base = spark.table(proc.base_table)
    if proc.direction == "column":
        merged = merge_column(base, [(spark.table(t.table), t) for t in proc.targets])
        merged_in = [t.table for t in proc.targets]
    else:
        merged = merge_row(
            base, [spark.table(t) for t in proc.target_tables], distinct=proc.distinct
        )
        merged_in = list(proc.target_tables)
    sess.register(proc.base_table, merged, cache=persist)
    if proc.remove_after_merged:
        for name in merged_in:
            sess.remove(name)
    return merged


def apply_changeset(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str] | str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC changeset (op in 'I'/'U'/'D') to a snapshot — the
    lakehouse MERGE INTO / upsert primitive, as a pure DataFrame
    composition (no table format required):

    - base rows whose key has no change row pass through ('keep');
    - 'U' rows replace the base row's non-key columns ('update');
    - 'D' rows drop the base row;
    - 'I' rows append ('insert'); an 'I' whose key exists behaves as
      an update (idempotent-upsert semantics), a 'U'/'D' whose key is
      absent is ignored — both documented, both deterministic.

    Output: the new snapshot with every base column plus
    ``change_type`` ('keep' | 'update' | 'insert').

    Scale shape: ONE key-keyed full-outer join (the changeset is
    usually << base: Spark broadcasts it when small; at equal scale
    AQE picks the shuffle join) — no windows, no driver state."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    data_cols = [c for c in base.columns if c not in keys]
    # row-existence markers: testing keys[0].isNotNull()
    # after the full-outer join would classify a NULL-keyed base row as
    # "no base row" and silently drop it; a literal marker column is
    # NULL exactly when the join found no row on that side, regardless
    # of key nullability. (NULL-keyed rows never MATCH — SQL equality —
    # so a NULL-keyed base row keeps, and a NULL-keyed 'I' inserts.)
    b = base.withColumn("__has_base", F.lit(1))
    ch = changes.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        *[F.col(c).alias(f"__c_{c}") for c in data_cols],
        F.col(op_col).alias("__op"),
        F.lit(1).alias("__has_change"),
    )
    cond = [b[k] == ch[f"__k_{k}"] for k in keys]
    j = b.join(ch, cond, "full_outer")
    has_base = F.col("__has_base").isNotNull()
    has_change = F.col("__has_change").isNotNull()
    out = j.filter(
        # drop matched deletes and dangling U/D (no base row)
        ~(has_change & (F.col("__op") == "D"))
        & (has_base | (F.col("__op") == "I"))
    )
    key_exprs = [
        F.coalesce(F.col(k), F.col(f"__k_{k}")).alias(k) for k in keys
    ]
    val_exprs = [
        F.when(has_change, F.col(f"__c_{c}")).otherwise(F.col(c)).alias(c)
        for c in data_cols
    ]
    change_type = (
        F.when(~has_base, F.lit("insert"))
        .when(has_change, F.lit("update"))
        .otherwise(F.lit("keep"))
    )
    return out.select(*key_exprs, *val_exprs, change_type.alias("change_type"))


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    key_cols: list[str] | str,
    *,
    change_ts,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 merge: apply an attribute
    changeset at ``change_ts`` to a versioned history table
    (``valid_to`` NULL = current row), preserving full lineage:

    - changed attrs  -> close the current row (valid_to = change_ts)
                        and open a new version (valid_from = change_ts);
    - identical attrs -> no-op (no spurious versions — compared
                        null-safely on EVERY non-key attribute);
    - new key        -> first version opens at change_ts;
    - already-closed history rows pass through untouched.

    Scale shape: one key-keyed join of the CURRENT slice against the
    changeset (broadcast when small) + a pass-through union of closed
    rows — no windows, no driver state. Closed/kept/new selections are
    three projections of the same join (Spark reuses the exchange).

    Output: the new history (same schema as ``history``)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    attrs = [
        c for c in history.columns
        if c not in (*keys, valid_from_col, valid_to_col)
    ]
    cur = history.filter(F.col(valid_to_col).isNull())
    closed_rows = history.filter(F.col(valid_to_col).isNotNull())
    ch = changes.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        *[F.col(a).alias(f"__c_{a}") for a in attrs],
    )
    # same literal-marker existence test as apply_changeset (key-null-safe
    # on both sides of the full-outer join)
    cur = cur.withColumn("__has_base", F.lit(1))
    ch = ch.withColumn("__has_change", F.lit(1))
    j = cur.join(ch, [cur[k] == ch[f"__k_{k}"] for k in keys], "full_outer")
    has_base = F.col("__has_base").isNotNull()
    has_change = F.col("__has_change").isNotNull()
    differs = F.lit(False)
    for a in attrs:
        differs = differs | ~F.col(a).eqNullSafe(F.col(f"__c_{a}"))
    ts = F.lit(change_ts)
    base_cols = [*keys, *attrs, valid_from_col, valid_to_col]
    kept = j.filter(has_base & (~has_change | ~differs)).select(*base_cols)
    closing = j.filter(has_base & has_change & differs).select(
        *keys, *attrs, F.col(valid_from_col), ts.alias(valid_to_col)
    )
    opening = j.filter(has_change & (~has_base | differs)).select(
        *[F.coalesce(F.col(k), F.col(f"__k_{k}")).alias(k) for k in keys],
        *[F.col(f"__c_{a}").alias(a) for a in attrs],
        ts.alias(valid_from_col),
        F.lit(None).cast(history.schema[valid_to_col].dataType).alias(valid_to_col),
    )
    return closed_rows.unionByName(kept).unionByName(closing).unionByName(opening)
