"""Window / per-group-top-k operators (SURVEY.md §2.6).

Reference parity:
  - ClickHouse ``LIMIT n BY key`` (DM/Правильное построение витрины с
    множественными агрегациями.md:102-117) -> ``limit_by``.
  - SCD2 current-version selection / end-dating (PRO/Глава 10:49-59)
    -> ``limit_by(..., 1)`` / ``scd2_windows``.
  - CDC Net mode last-change-per-key (PRACT/006:162) -> ``limit_by(..., 1)``.
  - Analytic frames (running sums, lag/lead) — beyond-reference surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def limit_by(df: DataFrame, keys: Sequence[str], order: Sequence[Column],
             n: int, rank_col: str | None = None) -> DataFrame:
    """Per-key top-N (LIMIT n BY key), the package's one rank-and-keep
    window (n=1 is latest-per-key).  One shuffle on ``keys``; with AQE
    the per-partition sort is bounded by group size.  Tie-break by
    including a unique column in ``order`` for determinism."""
    w = Window.partitionBy(*keys).orderBy(*order)
    rn = rank_col or "__rn"
    out = df.withColumn(rn, F.row_number().over(w)).where(F.col(rn) <= n)
    return out if rank_col else out.drop(rn)


def scd2_windows(df: DataFrame, keys: Sequence[str], eff_ts: str, *,
                 end_ts_col: str = "end_ts",
                 current_col: str = "is_current",
                 open_end=None) -> DataFrame:
    """Derive SCD2 validity windows from a change history: each version's
    end = next version's start (lead); the open version is flagged
    current (PRO/Глава 10:49-59 'close old version + insert new')."""
    w = Window.partitionBy(*keys).orderBy(F.col(eff_ts).asc())
    nxt = F.lead(F.col(eff_ts)).over(w)
    return (df.withColumn(end_ts_col,
                          F.coalesce(nxt, F.lit(open_end).cast(
                              df.schema[eff_ts].dataType)))
              .withColumn(current_col, nxt.isNull()))


def running(df: DataFrame, keys: Sequence[str], order: Sequence[Column],
            **aggs: Column) -> DataFrame:
    """Running aggregates over ROWS UNBOUNDED PRECEDING..CURRENT ROW."""
    w = (Window.partitionBy(*keys).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumns({name: c.over(w) for name, c in aggs.items()})


def with_lag_lead(df: DataFrame, keys: Sequence[str],
                  order: Sequence[Column], col: str,
                  lag_n: int = 1, lead_n: int = 1) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(*order)
    return (df.withColumn(f"{col}_lag", F.lag(col, lag_n).over(w))
              .withColumn(f"{col}_lead", F.lead(col, lead_n).over(w)))


def running_range(df: DataFrame, keys: Sequence[str], ts_col: str,
                  value_col: str, *, interval: str = "30 days",
                  agg: str = "SUM", out_col: str = "run") -> DataFrame:
    """Time-RANGE window frame (``RANGE BETWEEN INTERVAL .. PRECEDING``):
    the moving-window-over-event-time aggregate.  Unlike a ROWS frame
    the window follows the CLOCK, not the row count — the correct
    semantics for trailing-30-day style marts.  Expressed as generated
    SQL because PySpark's ``Window.rangeBetween`` only takes numeric
    offsets (interval frames are SQL-only)."""
    keys_sql = ", ".join(keys)
    frame = (f"{agg}({value_col}) OVER (PARTITION BY {keys_sql} "
             f"ORDER BY CAST({ts_col} AS TIMESTAMP) "
             f"RANGE BETWEEN INTERVAL {interval} PRECEDING "
             f"AND CURRENT ROW)")
    return df.withColumn(out_col, F.expr(frame))


def forward_fill(df: DataFrame, keys: Sequence[str],
                 order: Sequence[Column], cols: Sequence[str], *,
                 suffix: str = "_ff") -> DataFrame:
    """Last-observation-carried-forward (gap filling): replace NULLs
    with the most recent non-null value per key in event order —
    ``last(col, ignorenulls) OVER (... ROWS UNBOUNDED PRECEDING)``.
    The standard repair for sparse sensor/CDC streams where only
    changed attributes are emitted.  One window shuffle serves every
    filled column; leading NULLs (no prior observation) stay NULL.
    ``order`` must include a unique tiebreaker for deterministic
    restarts."""
    w = (Window.partitionBy(*keys).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumns({
        f"{c}{suffix}": F.last(F.col(c), ignorenulls=True).over(w)
        for c in cols})


def quantile_bins(df: DataFrame, value_col: str, n: int, *,
                  out_col: str = "bucket",
                  approx: bool = False,
                  accuracy: int = 10000) -> DataFrame:
    """Corpus-wide equal-frequency binning WITHOUT the single-reducer
    window — the scale path :func:`ntile_buckets` points at for global
    tiles.  Computes n-1 quantile cutpoints in one tiny aggregate
    (exact ``percentile`` for audit, ``approx_percentile`` sketch for
    100 TB), broadcasts the 1-row cutpoint frame, and assigns
    ``bucket = 1 + #cutpoints_below`` in a narrow projection: no big
    shuffle, no per-partition ordering, deterministic for ties (all
    equal values share a bucket — unlike NTILE's arbitrary tie split,
    which is exactly what makes NTILE un-parallelizable globally)."""
    if n < 2:
        raise ValueError("n must be >= 2")
    probs = F.array(*[F.lit(i / n) for i in range(1, n)])
    fn = F.approx_percentile if approx else F.percentile
    args = (F.col(value_col), probs) + ((F.lit(accuracy),) if approx else ())
    cuts = df.agg(fn(*args).alias("__cuts"))
    # NULL values get a NULL bucket, never a silent bucket 1 (the
    # NULL > cutpoint comparison is NULL, which `when` would read as 0)
    bucket = F.when(
        F.col(value_col).isNotNull(),
        F.lit(1) + F.aggregate(
            F.col("__cuts"), F.lit(0),
            lambda acc, c: acc + F.when(F.col(value_col) > c, 1)
            .otherwise(0))).cast("int")
    return (df.join(F.broadcast(cuts))
            .withColumn(out_col, bucket).drop("__cuts"))


def ntile_buckets(df: DataFrame, keys: Sequence[str],
                  order: Sequence[Column], n: int,
                  out_col: str = "bucket") -> DataFrame:
    """Equal-frequency bucketing per key group (NTILE).

    ``keys`` is deliberately required: a global NTILE (no partitionBy)
    funnels every row through ONE window partition — the classic
    single-reducer cliff at scale.  For a corpus-wide ntile, bucket
    within natural keys or pre-bin on ``approx_percentile`` cutpoints
    instead.  ``order`` must include a unique tiebreaker so restarts
    are deterministic."""
    if not keys:
        raise ValueError("ntile_buckets requires partition keys; a "
                         "global NTILE is a single-reducer plan at scale")
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(out_col, F.ntile(n).over(w))


def _duration_us(text: str, err_prefix: str) -> int:
    """'24 hours' / '30 minutes' -> microseconds (shared by the
    event-time operators below)."""
    import re
    m = re.fullmatch(r"(\d+)\s*(second|minute|hour|day)s?", text.strip())
    if not m:
        raise ValueError(f"{err_prefix} {text!r} (use e.g. '24 hours')")
    return int(m.group(1)) * {"second": 1, "minute": 60, "hour": 3600,
                              "day": 86400}[m.group(2)] * 1_000_000


def window_funnel(events: DataFrame, steps: Sequence[str], *,
                  user_col: str = "user_id", ts_col: str = "ts",
                  type_col: str = "event_type",
                  window: str | None = None,
                  out_col: str = "funnel_level") -> DataFrame:
    """ClickHouse ``windowFunnel`` parity (the reference's datamart
    dialect; public semantics): per user, the deepest step k such that
    events matching ``steps[0..k-1]`` occur at NON-DECREASING
    timestamps with ``t_k - t_1 <= window`` (no window = unbounded).
    Returns one row per user appearing in any step event:
    ``(user_col, out_col)`` with level ∈ 1..len(steps); users with no
    step events simply don't appear (level 0 by absence).

    Plan shape: filter to step events only, ONE shuffle to
    collect+sort each user's (ts, step) pairs, then a sequential
    array fold — the exact max-start dynamic program: state[j] = the
    LATEST chain-start time among chains reaching step j+1 (a later
    start strictly dominates: more window slack for the remaining
    steps, and processing in ts order guarantees step order).  Equal
    timestamps sort by step index, so same-ts chains resolve
    deterministically.  Per-user memory is its event list — the same
    bound every sessionization holds — and the fold is O(events ×
    k) with k plan-literal branches, all JVM-side.

    The DP is exact, not heuristic: any chain certifying level k
    implies state[k-1] non-null (induction on fold steps), and
    conversely state entries are only ever copied from real event
    chains."""
    steps = list(steps)
    k = len(steps)
    if k < 2:
        raise ValueError("window_funnel needs >= 2 steps")
    if len(set(steps)) != k:
        raise ValueError("window_funnel steps must be distinct")
    step_idx = F.create_map(
        *[x for i, s in enumerate(steps)
          for x in (F.lit(s), F.lit(i))])[F.col(type_col)]
    win_us = (None if window is None
              else _duration_us(window, "window_funnel: bad window"))
    evs = (events.where(F.col(type_col).isin(steps))
           .select(F.col(user_col),
                   F.struct(
                       # session runs NTZ end-to-end; unix_micros wants
                       # LTZ and the UTC session zone makes the hop
                       # value-preserving (matches DuckDB epoch_us)
                       F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
                       .alias("t"),
                       step_idx.cast("int").alias("j")).alias("__ev")))
    per_user = evs.groupBy(user_col).agg(
        F.array_sort(F.collect_list("__ev")).alias("__evs"))
    init = F.array_repeat(F.lit(None).cast("bigint"), k)

    def fold_step(st, ev):
        def upd(s, i):
            # i is 0-based level; element_at is 1-based, so
            # element_at(st, i) reads state[i-1] — the previous level.
            # The greatest(i, 1) guard keeps ANSI mode from rejecting
            # index 0 (the branch is dead for i == 0 anyway).
            first = (ev["j"] == 0) & (i == 0)
            prev = F.element_at(st, F.greatest(i, F.lit(1)))
            chain = (ev["j"] == i) & (i > 0) & prev.isNotNull()
            if win_us is not None:
                chain = chain & (ev["t"] - prev <= F.lit(win_us))
            # greatest() skips NULLs: an unset slot adopts the new start
            return (F.when(first, F.greatest(s, ev["t"]))
                    .when(chain, F.greatest(s, prev))
                    .otherwise(s))
        return F.transform(st, upd)

    state = F.aggregate(F.col("__evs"), init, fold_step)
    level = F.size(F.filter(state, lambda s: s.isNotNull()))
    return (per_user.select(F.col(user_col),
                            level.cast("int").alias(out_col))
            .where(F.col(out_col) > 0))


def sessionize(events: DataFrame, *, user_col: str = "user_id",
               ts_col: str = "ts", gap: str = "30 minutes",
               order_tiebreak: Sequence[str] = (),
               out_col: str = "session_seq") -> DataFrame:
    """Batch sessionization: assign each event a per-user session
    sequence number, starting a new session whenever the gap to the
    previous event exceeds ``gap`` — the batch twin of the streaming
    ``session_windowed_agg`` (same semantics, replayable on history).

    One shuffle (window on ``user_col``), two window functions over
    the SAME window spec (lag + running sum — Spark evaluates both in
    one Window operator, no second Exchange).  Include
    ``order_tiebreak`` columns (e.g. the event id) whenever distinct
    events can share a timestamp: session NUMBERING is already
    ts-deterministic, but a stable total order keeps plans replayable
    row-for-row.
    """
    gap_us = _duration_us(gap, "sessionize: bad gap")
    t = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in order_tiebreak])
    new_sess = F.when(
        F.lag(t).over(w).isNull()
        | ((t - F.lag(t).over(w)) > gap_us), 1).otherwise(0)
    return events.withColumn(
        out_col,
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"))


def _seq_sorted_types(events: DataFrame, pattern: Sequence[str], *,
                      user_col: str, ts_col: str, type_col: str,
                      tiebreak: Sequence[str]) -> DataFrame:
    """Per user: the time-ordered array of step types among events
    whose type appears in ``pattern`` (one shuffle: groupBy + sorted
    collect).  Equal timestamps order by ``tiebreak`` then type, so
    the fold below is deterministic under replay."""
    ev = F.struct(
        F.unix_micros(F.col(ts_col).cast("timestamp_ltz")).alias("t"),
        *[F.col(c).alias(f"b{i}") for i, c in enumerate(tiebreak)],
        F.col(type_col).alias("y"))
    return (events.where(F.col(type_col).isin(list(set(pattern))))
            .select(F.col(user_col), ev.alias("__ev"))
            .groupBy(user_col)
            .agg(F.transform(F.array_sort(F.collect_list("__ev")),
                             lambda e: e["y"]).alias("__types")))


def sequence_match(events: DataFrame, pattern: Sequence[str], *,
                   user_col: str = "user_id", ts_col: str = "ts",
                   type_col: str = "event_type",
                   tiebreak: Sequence[str] = (),
                   out_col: str = "matched") -> DataFrame:
    """ClickHouse ``sequenceMatch('(?1).*(?2).*...')`` parity: did the
    user's event stream contain ``pattern`` as a time-ordered
    SUBSEQUENCE (other events freely interleaved)?  Unlike
    :func:`window_funnel` there is no time bound and pattern steps may
    repeat (``['view','view','purchase']`` = two views then a buy).

    Returns ``(user_col, out_col bool)``, one row per user with at
    least one pattern-step event (absent user = no match, by absence).

    Plan shape: filter to step events, ONE shuffle to collect+sort
    per user, then a sequential O(events) array fold advancing a
    match pointer — the textbook greedy subsequence automaton, which
    is exact for subsequence matching (earliest-completion choices
    never hurt).  All JVM codegen; per-user memory = its step events,
    the same bound sessionization holds.
    """
    pattern = list(pattern)
    if not pattern:
        raise ValueError("sequence_match: empty pattern")
    pat = F.array(*[F.lit(s) for s in pattern])
    k = len(pattern)
    per_user = _seq_sorted_types(events, pattern, user_col=user_col,
                                 ts_col=ts_col, type_col=type_col,
                                 tiebreak=tiebreak)
    pos = F.aggregate(
        F.col("__types"), F.lit(0),
        # least() clamps the probe once the pattern is consumed —
        # ANSI element_at(pat, k+1) would throw, and & does not
        # short-circuit
        lambda acc, y: F.when(
            (acc < k)
            & (y == F.element_at(pat, F.least(acc + 1, F.lit(k)))),
            acc + 1).otherwise(acc))
    return per_user.select(F.col(user_col),
                           (pos >= k).alias(out_col))


def sequence_count(events: DataFrame, pattern: Sequence[str], *,
                   user_col: str = "user_id", ts_col: str = "ts",
                   type_col: str = "event_type",
                   tiebreak: Sequence[str] = (),
                   out_col: str = "n_matches") -> DataFrame:
    """ClickHouse ``sequenceCount`` parity: how many NON-OVERLAPPING
    subsequence matches of ``pattern`` does each user's stream hold?
    The search restarts right after each completed chain (greedy
    left-to-right — the count a lazy-quantifier regex scan produces
    over the same symbol string, which is how the oracle certifies
    it).  Same single-shuffle collect+fold plan as
    :func:`sequence_match`, with the fold state = (pointer, count).
    """
    pattern = list(pattern)
    if not pattern:
        raise ValueError("sequence_count: empty pattern")
    pat = F.array(*[F.lit(s) for s in pattern])
    k = len(pattern)
    per_user = _seq_sorted_types(events, pattern, user_col=user_col,
                                 ts_col=ts_col, type_col=type_col,
                                 tiebreak=tiebreak)
    init = F.struct(F.lit(0).alias("p"), F.lit(0).alias("n"))
    def step(acc, y):
        nxt = F.when(y == F.element_at(pat, acc["p"] + 1),
                     acc["p"] + 1).otherwise(acc["p"])
        done = nxt >= k
        return F.struct(
            F.when(done, F.lit(0)).otherwise(nxt).alias("p"),
            (acc["n"] + done.cast("int")).alias("n"))
    st = F.aggregate(F.col("__types"), init, step)
    return per_user.select(F.col(user_col),
                           st["n"].cast("bigint").alias(out_col))


def transitions(events: DataFrame, *, user_col: str = "user_id",
                ts_col: str = "ts", type_col: str = "event_type",
                tiebreak: Sequence[str] = ()) -> DataFrame:
    """Event-transition matrix (page-path / clickstream-flow
    analysis): count, over every user's time-ordered stream, each
    adjacent ``(from_type, to_type)`` step.  The input to Markov-chain
    path models and sankey flow charts.

    Plan shape: ONE window shuffle on ``user_col`` for the lead, then
    a hash aggregate on the (from, to) pair — map-side combine shrinks
    it to |types|² rows.  Deterministic under replay when ``tiebreak``
    makes the per-user order total (same contract as sessionize).
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak])
    nxt = F.lead(F.col(type_col)).over(w)
    return (events
            .select(F.col(type_col).alias("from_type"),
                    nxt.alias("to_type"))
            .where(F.col("to_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions")))


def moving(df: DataFrame, keys: Sequence[str], order: Sequence[Column],
           width: int, **aggs: Column) -> DataFrame:
    """Fixed-width trailing-window aggregates (ClickHouse
    ``groupArrayMovingSum/Avg(n)`` capability; the ROWS-frame moving
    average every ops dashboard wants): each aggregate evaluates over
    ``ROWS BETWEEN width-1 PRECEDING AND CURRENT ROW``.  One window
    (``width`` positionally — an ``n=``/aggregate-alias collision with
    the kwargs would otherwise be a footgun).
    shuffle serves every aggregate; ``order`` needs a unique
    tiebreaker for deterministic replays (same contract as
    :func:`running`, which is the UNBOUNDED-frame sibling)."""
    if width < 1:
        raise ValueError("moving: window width must be >= 1")
    w = (Window.partitionBy(*keys).orderBy(*order)
         .rowsBetween(-(width - 1), Window.currentRow))
    return df.withColumns({name: c.over(w) for name, c in aggs.items()})
