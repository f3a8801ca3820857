"""Event-time windowed aggregation (SURVEY.md §2.10).

The reference's incremental story is CDC-batch; event-time windows are
the beyond-reference streaming surface (Q41).  These helpers apply to
BOTH batch and streaming DataFrames — the same plan, which is exactly
how the batch-mode oracle checks the streaming semantics.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.windows import limit_by


def _windowed(df: DataFrame, ts_col: str, window_expr: Column,
              keys: Sequence[str], aggs: Mapping[str, Column],
              watermark: str | None) -> DataFrame:
    if watermark is not None:
        # Spark watermarks require TIMESTAMP (LTZ) event time; cast NTZ
        # through the session zone so batch fixtures and streams agree
        if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df = df.withWatermark(ts_col, watermark)
    return (df.groupBy(window_expr, *keys)
            .agg(*[c.alias(n) for n, c in aggs.items()]))


def tumbling_windowed_agg(df: DataFrame, ts_col: str, size: str,
                          keys: Sequence[str], aggs: Mapping[str, Column],
                          watermark: str | None = None) -> DataFrame:
    """Tumbling window: non-overlapping fixed buckets.  With a watermark
    the state store evicts closed windows — bounded state at scale."""
    return _windowed(df, ts_col, F.window(ts_col, size), keys, aggs,
                     watermark)


def sliding_windowed_agg(df: DataFrame, ts_col: str, size: str, slide: str,
                         keys: Sequence[str], aggs: Mapping[str, Column],
                         watermark: str | None = None) -> DataFrame:
    return _windowed(df, ts_col, F.window(ts_col, size, slide), keys, aggs,
                     watermark)


def session_windowed_agg(df: DataFrame, ts_col: str, gap: str,
                         keys: Sequence[str], aggs: Mapping[str, Column],
                         watermark: str | None = None) -> DataFrame:
    """Session window: rows within ``gap`` of each other merge."""
    return _windowed(df, ts_col, F.session_window(ts_col, gap), keys, aggs,
                     watermark)


def interval_join(left: DataFrame, right: DataFrame,
                  keys: Sequence[str], *, left_ts: str, right_ts: str,
                  lower: str, upper: str,
                  watermark: str, how: str = "inner") -> DataFrame:
    """Stream-stream equi-join bounded by an event-time interval:
    match rows with equal keys where
    ``right_ts ∈ [left_ts - lower, left_ts + upper]``.

    The time bound + watermarks are what make a stream-stream join
    FINITE: each side buffers only rows young enough to still find a
    partner, and the state store evicts them past
    ``watermark + interval`` — without the bound Spark rejects the
    join as unbounded-state.  Same code path works on batch frames
    (the bound is then just a range predicate).  Outer variants emit
    unmatched rows only after watermark expiry."""
    allowed = {"inner", "left", "left_outer", "right", "right_outer",
               "full", "full_outer", "outer"}
    if how not in allowed:
        # semi/anti would drop the right side this projection selects;
        # reject up front instead of a confusing AnalysisException
        raise ValueError(f"interval_join: how={how!r} unsupported; "
                         f"use one of {sorted(allowed)}")
    if dict(left.dtypes).get(left_ts) == "timestamp_ntz":
        left = left.withColumn(left_ts, F.col(left_ts).cast("timestamp"))
    if dict(right.dtypes).get(right_ts) == "timestamp_ntz":
        right = right.withColumn(right_ts, F.col(right_ts).cast("timestamp"))
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    # bound refs (left[...]/right[...]) throughout: unqualified F.col
    # would be AMBIGUOUS whenever a column name exists on both sides —
    # e.g. two same-schema streams both carrying "ts"
    lts, rts = left[left_ts], right[right_ts]
    cond = None
    for k in keys:
        eq = left[k] == right[k]
        cond = eq if cond is None else cond & eq
    cond = (cond
            & (rts >= lts - F.expr(f"INTERVAL {lower}"))
            & (rts <= lts + F.expr(f"INTERVAL {upper}")))
    joined = left.join(right, cond, how)
    # one key column per key in every variant (left's for inner/left,
    # right's for right, coalesced for full outer), and right-side
    # non-key columns that collide with a left name get a __right
    # suffix — the output never carries two columns with one name
    base = how.replace("_outer", "").replace("outer", "") or "full"
    if base == "right":
        key_cols = [right[k].alias(k) for k in keys]
    elif base == "full":
        key_cols = [F.coalesce(left[k], right[k]).alias(k) for k in keys]
    else:
        key_cols = [left[k].alias(k) for k in keys]
    l_other = [c for c in left.columns if c not in keys]
    others = ([left[c].alias(c) for c in l_other]
              + [right[c].alias(f"{c}__right" if c in l_other else c)
                 for c in right.columns if c not in keys])
    return joined.select(*key_cols, *others)


def dedup_within_watermark(df: DataFrame, keys: Sequence[str],
                           ts_col: str, watermark: str) -> DataFrame:
    """Streaming exactly-once event dedup with BOUNDED state: keep the
    first row per key, dropping re-deliveries that arrive within the
    watermark delay; keys older than the watermark are evicted from the
    state store (``dropDuplicatesWithinWatermark``).

    The at-least-once → exactly-once repair for replayed sources (the
    CDC rerun-duplicates hazard, PRACT/004 CDC.md:342-362, solved in
    the stream instead of the sink).  An unbounded ``dropDuplicates``
    on a stream grows state forever; this variant's state is bounded
    by keys-per-watermark-window at any corpus rate.  On a batch
    DataFrame it degrades to plain per-key dedup (same contract)."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if not df.isStreaming:
        # deterministic batch twin of first-row-wins: earliest ts per
        # key (plain dropDuplicates keeps a partition-order-dependent
        # row — reruns could surface different payloads).  Remaining
        # payload columns break equal-ts ties: two replays with the
        # same key+ts but different payloads must also resolve to one
        # stable winner, not partition order.
        tiebreak = [F.col(c) for c, t in df.dtypes
                    if c not in keys and c != ts_col
                    # maps aren't orderable at ANY nesting depth
                    # (array<map<...>>, struct<...map...>)
                    and "map<" not in t]
        return limit_by(df, keys, [F.col(ts_col), *tiebreak], 1)
    return (df.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(keys)))
