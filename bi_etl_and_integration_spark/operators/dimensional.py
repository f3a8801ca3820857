"""Dimensional-loading operators (SURVEY.md §2.4, §2.6; PRO/Глава 10).

Reference parity:
  - set-based MERGE upsert replacing RBAR row-updates
    (PRO/Глава 12:48-51,87-99; APRESS/004.md:84) -> ``merge_apply``
  - SCD Type 1 / Type 2 maintenance (PRO/Глава 10:49-59) -> ``scd1``,
    ``scd2_apply``
  - new-dimension-row detection via lookup no-match (PRO/Глава 10:41-46)
    -> anti-join inside ``scd1``/``scd2_apply``
  - idempotent re-apply after crash (PRACT/004 CDC.md:342-362): all ops
    here are deterministic functions of (target, source) — re-running a
    failed batch converges to the same result.

Persisting results: a dimension the engine reads back commits as a
``sources.snapshots.SnapshotTable`` version (atomic manifest commit);
``pipeline.checkpointed_write`` (temp dir -> rename) is export-only,
for files read outside the engine.
"""

from __future__ import annotations

import math
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.common import (
    materialize as _materialize)
from bi_etl_and_integration_spark.operators.windows import limit_by


def merge_apply(target: DataFrame, source: DataFrame, keys: Sequence[str],
                *, update_cols: Sequence[str] | None = None,
                insert_new: bool = True,
                delete_missing: bool = False) -> DataFrame:
    """MERGE semantics on DataFrames: rows in both -> target row with
    ``update_cols`` taken from source; source-only rows -> inserted
    (when ``insert_new``); target-only rows -> kept (or dropped when
    ``delete_missing``).

    Plan shape: one shuffle on ``keys`` shared by the outer join; no
    row-by-row work (the RBAR antipattern the reference bans).
    """
    keys = list(keys)
    update_cols = list(update_cols if update_cols is not None
                       else [c for c in source.columns
                             if c in target.columns and c not in keys])
    t = target.alias("t")
    # explicit match marker: data columns can't signal source presence
    # (a legitimately-NULL source value must still overwrite — MERGE's
    # UPDATE SET c = s.c writes NULL; coalesce would keep stale data)
    s = source.withColumn("__in_src", F.lit(True)).alias("s")
    how = "full" if insert_new else "left"
    joined = t.join(s, keys, how)
    matched = F.col("s.__in_src").isNotNull()

    out_cols = []
    for c in target.columns:
        if c in keys:
            out_cols.append(F.col(c))
        elif c in update_cols:
            out_cols.append(F.when(matched, F.col(f"s.{c}"))
                            .otherwise(F.col(f"t.{c}")).alias(c))
        else:
            out_cols.append(F.col(f"t.{c}").alias(c))
    merged = joined.select(*out_cols)
    if delete_missing:
        merged = merged.join(s.select(*keys), keys, "left_semi")
    return merged


def scd1(target: DataFrame, source: DataFrame, keys: Sequence[str],
         ) -> DataFrame:
    """SCD Type 1: overwrite attributes in place, insert new keys."""
    return merge_apply(target, source, keys, insert_new=True)


def scd2_apply(target: DataFrame, source: DataFrame, keys: Sequence[str],
               compare_cols: Sequence[str], eff_ts_col: str, *,
               start_col: str = "start_ts", end_col: str = "end_ts",
               current_col: str = "is_current") -> DataFrame:
    """SCD Type 2 'close old version + insert new' (PRO/Глава 10:49-59).

    target carries (keys, compare_cols, start_col, end_col, current_col);
    source carries (keys, compare_cols, eff_ts_col).  Changed keys get
    their current version end-dated at the new effective ts and a new
    open version appended; unchanged keys pass through untouched.

    A batch with SEVERAL rows per key net-collapses to the latest by
    effective ts first (deterministic tiebreak on the compare values):
    applying a batch end-state-wise is the same contract as the CDC
    net apply — intermediate within-batch versions don't enter the
    history.  Source rows with a NULL effective ts are ignored
    entirely (an effective time IS the SCD2 input; validate upstream
    with cast_with_quarantine if NULLs are possible).
    """
    keys = list(keys)
    src = (source.select(*keys, *compare_cols,
                         F.col(eff_ts_col).alias("__eff"))
           .where(F.col("__eff").isNotNull()))
    src = limit_by(src, keys, [F.col("__eff").desc(),
                               *[F.col(c).desc() for c in compare_cols]], 1)
    cur = target.where(F.col(current_col))
    hist = target.where(~F.col(current_col))

    cmp_changed = F.lit(False)
    for c in compare_cols:
        cmp_changed = cmp_changed | ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))

    j = cur.alias("t").join(src.alias("s"), keys, "full")
    is_new = F.col(f"t.{start_col}").isNull()          # key only in source
    no_change = F.col("s.__eff").isNull() | ~cmp_changed

    # SINGLE PASS: each joined row emits its applicable output versions
    # as an array of structs, exploded once.  Unioning three filtered
    # branches of the same join would re-evaluate the join + source
    # net-collapse window per branch (3x the shuffles at 100 TB).
    start_t = target.schema[start_col].dataType
    end_t = target.schema[end_col].dataType

    def variant(cols: dict) -> F.Column:
        return F.struct(*[c.alias(n) for n, c in cols.items()])

    # the list-form join merges the key columns; unqualified refs read
    # the coalesced key (present for both-sides AND new/absent keys)
    key_cols = {k: F.col(k) for k in keys}
    unchanged_v = variant(
        {**key_cols,
         **{c: F.col(f"t.{c}") for c in compare_cols},
         start_col: F.col(f"t.{start_col}"),
         end_col: F.col(f"t.{end_col}"),
         current_col: F.col(f"t.{current_col}")})
    closed_v = variant(
        {**key_cols,
         **{c: F.col(f"t.{c}") for c in compare_cols},
         start_col: F.col(f"t.{start_col}"),
         end_col: F.col("s.__eff").cast(end_t),
         current_col: F.lit(False)})
    opened_v = variant(
        {**key_cols,
         **{c: F.col(f"s.{c}") for c in compare_cols},
         start_col: F.col("s.__eff").cast(start_t),
         end_col: F.lit(None).cast(end_t),
         current_col: F.lit(True)})
    variants = F.filter(F.array(
        F.when(~is_new & no_change, unchanged_v),
        F.when(~is_new & ~no_change, closed_v),
        F.when(is_new | ~no_change, opened_v)),
        lambda x: x.isNotNull())
    applied = (j.select(F.explode(variants).alias("__r"))
               .select("__r.*"))
    return (hist.select(*keys, *compare_cols, start_col, end_col, current_col)
            .unionByName(applied))


def flatten_hierarchy(edges: DataFrame, id_col: str = "id",
                      parent_col: str = "parent_id", *,
                      max_depth: int = 1024) -> DataFrame:
    """Flatten a parent-child hierarchy (the SSIS/Kimball parent-child
    dimension: org charts, account rollup trees, BOM structures —
    PRO/Глава 10's dimension-maintenance scope) into
    ``(id, root_id, depth, path)`` where ``path`` is the id chain from
    the root down to the node and ``depth`` counts edges from the root.

    Spark has no recursive CTE, and naive per-level iteration is
    O(depth) shuffle rounds — a 100-level BOM would run 100 job waves.
    This uses POINTER DOUBLING: each round every unresolved node links
    to its ancestor's known ancestor and prepends the ancestor's known
    path, so the resolved chain length doubles per round and a
    ``max_depth``-deep tree finishes in ceil(log2(depth)) + 1 self-join
    rounds (10 rounds for 1000 levels).  Each round is one shuffle
    join; lineage is truncated per round exactly like
    ``fuzzy.connected_components`` (analyzer plans grow
    multiplicatively otherwise).

    Rows whose parent id does not exist in ``edges`` (orphans — the
    late-arriving-parent case) are treated as roots of their own
    subtree; feed them through ``infer_late_members`` upstream if a
    placeholder parent row is wanted instead.

    A cycle never resolves under doubling; after the round budget any
    unresolved rows raise loudly instead of silently truncating.

    LEAF STRIPPING (VERDICT r6 item 3 — the q51 sf10 fix): a node
    never referenced as a parent contributes to nobody's path, so the
    iteration runs only over the INTERNAL skeleton (ids that appear in
    the parent column) and leaves are attached afterwards with ONE
    join against the resolved skeleton.  Dimension hierarchies are
    leaf-dominated (region>nation>customer at sf10: 30 internal nodes
    vs 1.5M leaves), so the per-round join + lineage checkpoint stops
    rewriting millions of wide path rows — measured 22.6 s -> ~2 s at
    sf10.  Worst case (a chain where every node is internal) degrades
    gracefully to the old shape.  A leaf's present parent is internal
    by definition, so one hop always resolves it; cycles can only
    involve internal nodes and are still caught by the round budget.
    """
    typed = edges.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(parent_col).cast("bigint").alias("anc"))
    parent_ids = (typed.select(F.col("anc").alias("id"))
                  .where(F.col("id").isNotNull()).distinct())
    internal = typed.join(parent_ids, "id", "left_semi")
    leaves = typed.join(parent_ids, "id", "left_anti")
    state = internal.withColumn("path", F.array(F.col("id")))
    state = state.withColumn("done", F.col("anc").isNull())
    state = _materialize(state)
    rounds = max(1, math.ceil(math.log2(max(2, max_depth))) + 1)
    for _ in range(rounds):
        if state.where(~F.col("done")).isEmpty():
            break
        anc = state.select(F.col("id").alias("__aid"),
                           F.col("anc").alias("__aanc"),
                           F.col("path").alias("__apath"),
                           F.col("done").alias("__adone"))
        resolved = F.col("done")          # unqualified: left frame's col
        hit = F.col("__aid").isNotNull()  # ancestor row found
        # shuffle-HASH join, not sort-merge: the probe side carries the
        # growing path arrays and SMJ's per-round sort of them is where
        # a 1.5M-node tree spilled at sf10 (measured 13.0 -> 11.6 s,
        # spill gone); the hash build is one state-partition of (id,
        # anc, path) rows — bounded by the same partition sizing SMJ
        # needs anyway
        state = _materialize(
            state.join(anc.hint("shuffle_hash"),
                       state["anc"] == F.col("__aid"), "left")
            .select(
                F.col("id"),
                F.when(resolved | ~hit, F.col("anc"))
                .otherwise(F.col("__aanc")).alias("anc"),
                F.when(resolved | ~hit, F.col("path"))
                .otherwise(F.concat(F.col("__apath"),
                                    F.col("path"))).alias("path"),
                # orphan parents terminate the chain: the node becomes
                # the root of its own subtree (documented above)
                (resolved | ~hit
                 | F.coalesce(F.col("__adone"), F.lit(False))).alias("done")))
    unresolved = state.where(~F.col("done"))
    if not unresolved.isEmpty():
        sample = [r["id"] for r in unresolved.select("id").head(5)]
        raise ValueError(
            f"flatten_hierarchy: cycle or depth > {max_depth} detected; "
            f"unresolved ids (sample): {sample}")
    # attach the leaf fringe: one join against the resolved skeleton
    # (internal nodes only — AQE broadcasts it when small); a leaf
    # whose parent is NULL or missing from the edge set is a root of
    # its own subtree, same as the in-loop orphan rule
    skel = state.select(F.col("id").alias("__pid"),
                        F.col("path").alias("__ppath"))
    hit = F.col("__pid").isNotNull()
    leaf_state = (leaves.join(skel, leaves["anc"] == F.col("__pid"),
                              "left")
                  .select(
                      F.col("id"),
                      F.when(hit, F.concat(F.col("__ppath"),
                                           F.array(F.col("id"))))
                      .otherwise(F.array(F.col("id"))).alias("path")))
    out = state.select("id", "path").unionByName(leaf_state)
    return out.select(
        "id",
        F.col("path")[0].alias("root_id"),
        (F.size("path") - 1).cast("bigint").alias("depth"),
        "path")


def infer_late_members(fact: DataFrame, dim: DataFrame, key: str, *,
                       defaults: Mapping[str, object] | None = None,
                       flag_col: str = "is_inferred") -> DataFrame:
    """Late-arriving dimension handling (the SSIS "inferred member"
    pattern, PRO/Глава 10:41-46's no-match branch taken to its
    warehouse conclusion): fact keys with no dimension row get a
    placeholder dimension row inserted NOW — with ``flag_col`` = true
    and ``defaults`` (or NULL) for every attribute — so the fact load
    never drops or quarantines rows; the real attributes overwrite the
    placeholder via SCD1 when the dimension source catches up
    (``scd1`` leaves ``flag_col`` to flip on that update).

    Plan shape: one distinct-aggregate on the fact's key column plus
    one anti join against the dimension key set — both shuffle only
    the key column, and AQE broadcasts the dimension side when small.
    The fact table itself is never shuffled (100 TB-safe: the wide
    fact rows stay where they are; only keys move).
    """
    defaults = dict(defaults or {})
    missing = (fact.select(F.col(key))
               .where(F.col(key).isNotNull()).distinct()
               .join(dim.select(key), [key], "left_anti"))
    attrs: list[Column] = []
    for f in dim.schema.fields:
        if f.name == key:
            continue
        if f.name in defaults:
            attrs.append(F.lit(defaults[f.name]).cast(f.dataType)
                         .alias(f.name))
        else:
            attrs.append(F.lit(None).cast(f.dataType).alias(f.name))
    inferred = missing.select(F.col(key), *attrs) \
        .withColumn(flag_col, F.lit(True))
    return dim.withColumn(flag_col, F.lit(False)).unionByName(inferred)


def date_dimension(spark, start: str, end: str) -> DataFrame:
    """Generate the calendar/date dimension every mart joins against
    (the Kimball date table the reference's DW chapters assume exists):
    one row per day in [start, end], with the standard attribute
    columns, produced by a pure ``sequence``+``explode`` plan — no
    driver-side loop, no RDD.

    Columns: date_key (yyyymmdd int), date, year, quarter, month,
    day, day_of_week (1=Monday..7), week_of_year (ISO), month_name,
    is_weekend, is_month_start, is_month_end.

    A century of days is ~36k rows — broadcast-sized by construction;
    generation is a single task regardless (sequence is one array).
    """
    days = spark.range(1).select(F.explode(F.sequence(
        F.lit(start).cast("date"), F.lit(end).cast("date"),
        F.expr("interval 1 day"))).alias("date"))
    d = F.col("date")
    return days.select(
        (F.year(d) * 10000 + F.month(d) * 100 + F.dayofmonth(d))
        .cast("int").alias("date_key"),
        d,
        F.year(d).cast("int").alias("year"),
        F.quarter(d).cast("int").alias("quarter"),
        F.month(d).cast("int").alias("month"),
        F.dayofmonth(d).cast("int").alias("day"),
        F.weekday(d).cast("int").alias("day_of_week0"),
        (F.weekday(d) + 1).cast("int").alias("day_of_week"),
        F.weekofyear(d).cast("int").alias("week_of_year"),
        F.date_format(d, "MMMM").alias("month_name"),
        (F.weekday(d) >= 5).alias("is_weekend"),
        (F.dayofmonth(d) == 1).alias("is_month_start"),
        (d == F.last_day(d)).alias("is_month_end"),
    ).drop("day_of_week0")
