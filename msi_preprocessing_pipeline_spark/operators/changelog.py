"""Changelog application (CDC apply / MERGE-like upsert without a table
format): fold a stream of keyed upserts and deletes into a base snapshot.

The whole operation is one union + one latest-per-key window + one filter —
a single shuffle on the key, no join. At 10^12 rows this beats the
join-based MERGE shape (which shuffles base AND changes, then unions the
anti-join remainder): every row moves exactly once, ties are resolved by
``(ts, seq)`` so replays and out-of-order delivery are deterministic.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.util import as_list


def apply_changelog(base: DataFrame, changes: DataFrame,
                    key: Sequence[str] | str, ts_col: str,
                    op_col: str = "op",
                    tiebreak: Sequence[str] | None = None) -> DataFrame:
    """New snapshot = ``base`` with ``changes`` applied.

    ``changes`` carries the base columns plus ``op_col`` with values
    ``'u'`` (upsert: insert or replace) and ``'d'`` (delete). For each key
    the row with the greatest ``(ts, *tiebreak)`` wins — base rows rank
    below any change with an equal-or-later timestamp (base is the "oldest
    version" of its key). Deletes win like upserts, then drop out.
    """
    keys = as_list(key)
    cols = base.columns
    b = base.select(*cols, F.lit("u").alias("__op"),
                    F.lit(0).alias("__src"))
    # an unrecognized op must not silently act as a delete (the winning
    # row would just be filtered out) — fail the job row-side instead
    op = F.when(F.col(op_col).isin("u", "d"), F.col(op_col)).otherwise(
        F.raise_error(F.concat(F.lit("apply_changelog: op must be "
                                     "'u' or 'd', got "),
                               F.col(op_col).cast("string"))))
    c = changes.select(*cols, op.alias("__op"), F.lit(1).alias("__src"))
    unioned = b.unionByName(c)
    order = [F.col(ts_col).desc(), F.col("__src").desc()] + \
        [F.col(t).desc() for t in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (unioned.withColumn("__rn", F.row_number().over(w))
            .where((F.col("__rn") == 1) & (F.col("__op") == "u"))
            .select(*cols))


def diff_snapshots(old: DataFrame, new: DataFrame,
                   keys, compare_cols=None) -> DataFrame:
    """Row-level diff between two snapshots of the same table: one row per
    added, removed or changed key (unchanged keys drop out) with
    ``change_type`` in ``added | removed | changed`` and ``changed_cols`` —
    the names of the compared columns whose values differ (null-safe; empty
    for added/removed). The audit primitive for dataset versioning:
    "what did this rebuild actually change".

    Scale shape: ONE full outer join on the key columns (shuffle or
    AQE-broadcast as sizes dictate); the per-column comparison is a pure
    JVM expression over the joined row — no second pass, no Python.
    """
    keys = as_list(keys)
    if compare_cols is None:
        compare_cols = [c for c in old.columns
                        if c not in keys and c in new.columns]
    o = old.select(*keys, *[F.col(c).alias(f"__old_{c}")
                            for c in compare_cols],
                   F.lit(1).alias("__in_old"))
    n = new.select(*keys, *[F.col(c).alias(f"__new_{c}")
                            for c in compare_cols],
                   F.lit(1).alias("__in_new"))
    j = o.join(n, keys, "full_outer")
    diffs = F.filter(
        F.array(*[
            F.when(~F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}")),
                   F.lit(c)) for c in compare_cols
        ]) if compare_cols else F.array().cast("array<string>"),
        lambda x: x.isNotNull())
    change = (F.when(F.col("__in_old").isNull(), F.lit("added"))
              .when(F.col("__in_new").isNull(), F.lit("removed"))
              .when(F.size(diffs) > 0, F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    out = j.select(*keys, change.alias("change_type"),
                   F.when(F.col("__in_old").isNotNull()
                          & F.col("__in_new").isNotNull(), diffs)
                   .otherwise(F.array().cast("array<string>"))
                   .alias("changed_cols"))
    return out.where(F.col("change_type") != "unchanged")


def scd2_intervals(df: DataFrame, key_cols, ts_col: str,
                   tiebreak_cols=()) -> DataFrame:
    """Type-2 slowly-changing-dimension validity intervals: every
    input row becomes a version with ``eff_from`` (its own ``ts_col``),
    ``eff_to`` (the NEXT version's timestamp per key, null while
    current) and ``is_current`` — the history-table complement of
    :func:`latest_snapshot` (which keeps only the last version).

    Ordering per key is ``(ts_col, *tiebreak_cols)`` and must be a
    total order (pass a unique id) or same-instant versions get
    arbitrary interval nesting.  Rows with a null ``ts_col`` are
    dropped (a version without an effective time has no interval).

    Scale notes: ONE window (lead) over the key partition — one
    shuffle, per-group state is a single row; skewed dimension keys
    (many versions) cost a sort, never memory.
    """
    keys = as_list(key_cols)
    tb = as_list(tiebreak_cols)
    w = Window.partitionBy(*keys).orderBy(ts_col, *tb)
    return (df.where(F.col(ts_col).isNotNull())
            .select("*",
                    F.col(ts_col).alias("eff_from"),
                    F.lead(ts_col).over(w).alias("eff_to"))
            .withColumn("is_current", F.col("eff_to").isNull()))


def merge_into(target: DataFrame, source: DataFrame,
               key: Sequence[str] | str) -> DataFrame:
    """ANSI / Delta-style MERGE as a plain relational plan: the new
    snapshot of ``target`` after applying ``source`` rows by key — WHEN
    MATCHED UPDATE (a matched key takes the source row), WHEN NOT MATCHED
    INSERT (an unmatched source key is added); target keys the source
    lacks stay as they are.  ``source`` must carry every target column (minus
    nothing) and AT MOST ONE row per key — like Delta/Iceberg MERGE,
    a multi-match fails the job (enforced IN-PLAN with a window count
    + ``raise_error``, so the guard costs no extra action and runs
    vectorized on the source side only).

    Scale shape: ONE full outer hash join on the key (each side
    shuffles once; AQE broadcasts a dimension-sized source) + a
    map-only case projection — exactly the join a lakehouse MERGE
    compiles to, minus the file rewrite.  Deterministic: pure
    relational semantics, no ordering dependence anywhere — exact SQL
    oracle.

    Cites reference parity: the reference pipeline overwrites whole
    matrix targets per stage (`pipeline/_base.py` atomic write); MERGE
    is the keyed-refresh generalization this engine's incremental /
    CDC story (``apply_changelog``, ``refresh_group_agg``) composes
    with.
    """
    keys = as_list(key)
    cols = target.columns
    missing = [c for c in cols if c not in source.columns]
    if missing:
        raise ValueError(f"source is missing target columns {missing}")
    wc = Window.partitionBy(*keys)
    # the guard wraps the __s marker column itself — a dropped side
    # column would be pruned by the optimizer and never evaluate
    guard = F.when(
        F.count("*").over(wc) > 1,
        F.raise_error(F.concat(
            F.lit("merge_into: multiple source rows for key "),
            F.concat_ws("|", *[F.col(k).cast("string") for k in keys])))
    ).otherwise(F.lit(1))
    s = source.select(*cols).select(
        *[F.col(c).alias(f"__s_{c}") for c in cols],
        guard.alias("__s"))
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__s_{k}"))
        cond = c if cond is None else (cond & c)
    j = target.join(s, cond, "full_outer")
    # a row with a source side (matched or source-only) takes the source
    # row; a target-only row keeps its own
    out = [F.when(F.col("__s").isNotNull(), F.col(f"__s_{c}"))
           .otherwise(F.col(c)).alias(c) for c in cols]
    return j.select(*out)


def to_changelog(old: DataFrame, new: DataFrame,
                 key: Sequence[str] | str, ts_col: str,
                 ts_value) -> DataFrame:
    """The inverse of :func:`apply_changelog`: derive the minimal
    changelog that transforms snapshot ``old`` into snapshot ``new`` —
    upserts (``op='u'``) carrying the NEW row for added/changed keys,
    deletes (``op='d'``) carrying the OLD row for removed keys, and
    nothing for unchanged keys.  ``ts_value`` (a Column or literal)
    stamps ``ts_col`` on every emitted change, so the round trip

        apply_changelog(old, to_changelog(old, new, k, ts, t), k, ts)
            ≡ new        (pytest-pinned identity, for any t newer than
                          every base timestamp)

    holds exactly — the CDC story closes: snapshots → changelog →
    replay.  Scale shape: ONE full outer join (the ``diff_snapshots``
    plan) + a map-only projection; emitted rows are |changed keys|-
    bounded, the delta shape downstream incremental refresh consumes.
    """
    keys = as_list(key)
    cols = [c for c in new.columns]
    missing = [c for c in cols if c not in old.columns]
    if missing:
        raise ValueError(f"old snapshot is missing columns {missing}")
    o = old.select(*keys,
                   *[F.col(c).alias(f"__o_{c}") for c in cols
                     if c not in keys],
                   F.lit(1).alias("__in_old"))
    n = new.select(*keys,
                   *[F.col(c).alias(f"__n_{c}") for c in cols
                     if c not in keys],
                   F.lit(1).alias("__in_new"))
    j = o.join(n, keys, "full_outer")
    vals = [c for c in cols if c not in keys]
    same = None
    for c in vals:
        eq = F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        same = eq if same is None else (same & eq)
    if same is None:
        same = F.lit(True)
    added = F.col("__in_old").isNull()
    removed = F.col("__in_new").isNull()
    keep = added | removed | ~same
    op = F.when(removed, F.lit("d")).otherwise(F.lit("u"))
    out_vals = [F.when(removed, F.col(f"__o_{c}"))
                .otherwise(F.col(f"__n_{c}")).alias(c) for c in vals]
    ts = ts_value if isinstance(ts_value, Column) else F.lit(ts_value)
    return (j.where(keep)
            .select(*keys, *out_vals, op.alias("op"))
            .withColumn(ts_col, ts))
