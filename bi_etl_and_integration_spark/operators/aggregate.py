"""Aggregation operators (SURVEY.md §2.5).

Reference parity:
  - Aggregate transform (PRO/Глава 05:77) -> groupBy().agg() — Spark
    always runs partial (map-side) + final aggregation, so the SSIS
    "fully blocking" cost model improves to semi-blocking for free.
  - ClickHouse ``groupArray`` (DM/Правильное построение витрины с
    множественными агрегациями.md:20-35) -> ``group_array`` with the
    determinism convention: collected values are ALWAYS sorted
    (collect_list order is nondeterministic under parallelism).
  - ``STRING_AGG(expr, sep ORDER BY k)`` (SCRIPTS/Скрипт для
    миграции...md:29-55) -> ``string_agg``.
  - ``groupArrayState``/``Merge`` partial-state MV pattern
    (DM/...md:83-99) -> ``partial_states`` / ``merge_states``:
    re-aggregatable sum/count intermediates.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.windows import limit_by

AGGS = {
    "sum": F.sum, "count": F.count, "avg": F.avg, "min": F.min,
    "max": F.max, "stddev": F.stddev, "first": F.first, "last": F.last,
    "approx_count_distinct": F.approx_count_distinct,
    "count_distinct": F.count_distinct, "collect_set": F.collect_set,
}


def aggregate(df: DataFrame, keys: Sequence[str],
              aggs: Mapping[str, Column]) -> DataFrame:
    """Hash aggregate: ``aggs`` maps output name -> agg Column."""
    exprs = [c.alias(name) for name, c in aggs.items()]
    return df.groupBy(*keys).agg(*exprs) if keys else df.agg(*exprs)


def group_array(col: str | Column, sort: bool = True,
                asc: bool = True) -> Column:
    """ClickHouse ``groupArray`` with deterministic (sorted) order.
    Use inside ``aggregate``: ``{"ks": group_array("o_orderkey")}``."""
    c = F.collect_list(col)
    return F.sort_array(c, asc=asc) if sort else c


def group_array_ordered_by(value: Column, order: Column) -> Column:
    """groupArray ordered by a DIFFERENT column: collect (order, value)
    structs, sort by the struct (order leads), then project the value —
    the standard Spark idiom for ordered collection."""
    return F.transform(
        F.sort_array(F.collect_list(F.struct(order.alias("o"),
                                             value.alias("v")))),
        lambda s: s.getField("v"))


def string_agg(value: Column, sep: str = ",",
               order: Column | None = None) -> Column:
    """Ordered string concatenation per group (PG STRING_AGG ... ORDER BY)."""
    arr = (group_array_ordered_by(value, order) if order is not None
           else F.sort_array(F.collect_list(value)))
    return F.array_join(arr, sep)


def distinct(df: DataFrame, keys: Sequence[str] | None = None) -> DataFrame:
    """Dedup (Sort transform's remove-duplicates, PRO/Глава 05:78)."""
    return df.dropDuplicates(list(keys)) if keys else df.distinct()


def percentiles(df: DataFrame, keys: Sequence[str], value_col: str,
                ps: Sequence[float], *, approx: bool = False,
                accuracy: int = 10_000,
                weight_col: str | None = None) -> DataFrame:
    """Per-group continuous percentiles (ClickHouse ``quantile``-family
    capability; beyond-reference OLAP standard alongside ``cube`` /
    ``approx_count_distinct``).

    ``approx=False`` uses Spark's exact interpolating ``percentile`` —
    cross-engine deterministic (matches DuckDB ``quantile_cont``) but
    buffers each group's values; the 100 TB path is ``approx=True``
    (``approx_percentile``, bounded-memory sketch with ``accuracy`` as
    the error dial, engine-specific results).

    All requested percentiles evaluate as ONE aggregate over a
    percentage array — k scalar ``percentile(x, p)`` calls each buffer
    (exact) or sketch (approx) the group independently, measured 2x
    slower at two percentiles and linearly worse with k.

    ``weight_col`` adds ClickHouse ``quantileExactWeighted`` parity:
    each row counts as an integral frequency (the repeated-value
    semantics of Spark's 3-arg ``percentile``) — the row-weighted
    median/p-family without materializing the expansion.  Exact mode
    only (the sketch aggregate takes no frequency).  Weights must be
    positive integers: a fractional or non-positive weight raises at
    execution (plan-side guard) rather than silently truncating the
    frequency and shifting the quantile."""
    if weight_col is not None and approx:
        raise ValueError("percentiles: weight_col requires approx=False "
                         "(approx_percentile takes no frequency)")
    fn = "approx_percentile" if approx else "percentile"
    if weight_col is not None:
        # BIGINT (not INT: weights > 2^31 must not overflow) behind an
        # integrality/positivity guard that fails LOUDLY per row.
        # COALESCE in the message: CONCAT('...', CAST(NULL AS STRING))
        # is NULL, which would fire raise_error with an EMPTY message
        # for the NULL-weight case — the loud failure must stay
        # diagnosable for NULLs too.
        w = (f"IF({weight_col} > 0 AND {weight_col} = "
             f"FLOOR({weight_col}), CAST({weight_col} AS BIGINT), "
             f"CAST(raise_error(CONCAT('percentiles: weight_col must "
             f"be a positive integer, got ', "
             f"COALESCE(CAST({weight_col} AS STRING), 'NULL'))) "
             f"AS BIGINT))")
    extra = (f", {accuracy}" if approx
             else (f", {w}" if weight_col else ""))
    arr = ",".join(repr(float(p)) for p in ps)
    packed = df.groupBy(*keys).agg(
        F.expr(f"{fn}({value_col}, array({arr}){extra})").alias("__ps"))
    return packed.select(
        *keys, *[F.col("__ps")[i].alias(f"p{int(p * 100):02d}")
                 for i, p in enumerate(ps)])


def top_k_by_key(df: DataFrame, keys: Sequence[str], value_col: str,
                 k: int = 3) -> DataFrame:
    """Per-key frequency top-k (ClickHouse ``topK(k)(x) GROUP BY key``
    shape), exact: count per (key, value) first — one hash aggregation
    with map-side combine — then rank WITHIN the reduced count table.
    The window never sees raw rows, so its partition size is the key's
    value cardinality, not its row count.  Deterministic tie-break on
    the value.  Output: keys + (value, n, rank)."""
    c = (df.groupBy(*keys, value_col)
         .agg(F.count(F.lit(1)).alias("n")))
    return limit_by(c, keys, [F.desc("n"), F.col(value_col)], k,
                    rank_col="rank")


def _space_saving_update(state, floor: int, vc, m: int):
    """One bounded space-saving step (Metwally et al. 2005, merged per
    Arrow batch a la mergeable summaries, Agarwal et al. PODS'12):
    fold batch value-counts ``vc`` into the at-most-``m``-counter
    ``state`` (a pandas Series value->count).  A value not currently
    tracked enters at ``floor + its batch weight`` — ``floor`` is the
    largest count ever evicted, the classic space-saving overestimate
    that keeps every stored count an UPPER bound on the true count.
    Returns (new_state, new_floor).  Memory: ``m`` counters plus one
    Arrow batch transiently — never O(distinct-per-partition)."""
    import pandas as pd
    if state is None or state.empty:
        merged = vc.astype("int64") + floor
    else:
        new_vals = vc.index.difference(state.index)
        merged = state.add(vc, fill_value=0)
        if len(new_vals):
            merged[new_vals] += floor
        merged = merged.astype("int64")
    if len(merged) > m:
        # deterministic eviction: ties at the boundary break by VALUE
        # (index asc) regardless of the caller's Series order — a bare
        # nlargest breaks ties by position, making the surviving
        # counter set depend on whether the batch arrived value_counts
        # -ordered or Counter-ordered (and on pandas' unstable sort)
        kept = (merged.sort_index()
                .sort_values(ascending=False, kind="mergesort"))
        floor = max(floor, int(kept.iloc[m]))
        merged = kept.iloc[:m]
    return merged, floor


def approx_top_k(df: DataFrame, col: str, k: int = 20, *,
                 m: int = 10_000) -> DataFrame:
    """Heavy hitters (ClickHouse ``topK`` capability): per-partition
    space-saving sketch with a HARD bound of ``m`` counters via one
    Arrow pass, then a global merge of at most m x partitions candidate
    rows.

    Both the executor memory AND the shuffle are bounded by ``m``
    regardless of the column's cardinality — the 100 TB property a
    plain count+sort lacks.  Counts are EXACT whenever each partition
    holds <= m distinct values (no eviction ever fires, floor stays 0);
    beyond that each stored count overestimates the true count by at
    most partition_mass/m (space-saving guarantee), so every value with
    true frequency > mass/m is retained.  Deterministic output order:
    (count desc, value).  Output: (value, est_count)."""
    import pandas as pd

    def local(batches):
        state, floor = None, 0
        for pdf in batches:
            vc = pdf[col].dropna().value_counts()
            if len(vc):
                state, floor = _space_saving_update(state, floor, vc, m)
        if state is None:
            state = pd.Series(dtype="int64")
        yield pd.DataFrame({"value": state.index.astype(str),
                            "cnt": state.to_numpy("int64")})

    part = df.select(F.col(col).cast("string").alias(col)) \
        .mapInPandas(local, schema="value string, cnt long")
    return (part.groupBy("value").agg(F.sum("cnt").alias("est_count"))
            .orderBy(F.desc("est_count"), F.col("value")).limit(k))


def approx_top_tokens(df: DataFrame, text_col: str, k: int = 20, *,
                      m: int = 10_000, lowercase: bool = True) -> DataFrame:
    """Heavy-hitter TOKENS of a text column: :func:`approx_top_k` with
    tokenization fused INTO the Arrow pass (VERDICT r5 item 5).

    ``explode(split(text)) |> approx_top_k`` is semantically identical
    but ships one Arrow row PER TOKEN into Python — at corpus scale
    the token-row serialization dominates (measured 5.3 s -> 2.5 s at
    sf10 by fusing).  Here each Arrow batch carries raw DOCUMENT rows;
    tokens are split and counted C-side (one ``str.join`` +
    ``str.split`` + Counter per batch — never a per-row Python loop)
    and folded into the same bounded ``m``-counter space-saving
    sketch, so executor memory and shuffle stay bounded by ``m``
    exactly as in :func:`approx_top_k`.

    Token semantics match ``F.split(lower(text), " ")`` with empties
    dropped: single-space delimiter, no other whitespace splitting.
    Output: (value, est_count), (count desc, value)-ordered."""
    import pandas as pd

    def local(batches):
        from collections import Counter
        state, floor = None, 0
        for pdf in batches:
            texts = pdf[text_col].dropna()
            if not len(texts):
                continue
            joined = " ".join(texts.tolist())
            if lowercase:
                joined = joined.lower()
            c = Counter(joined.split(" "))
            c.pop("", None)
            if c:
                state, floor = _space_saving_update(
                    state, floor, pd.Series(c), m)
        if state is None:
            state = pd.Series(dtype="int64")
        yield pd.DataFrame({"value": state.index.astype(str),
                            "cnt": state.to_numpy("int64")})

    part = df.select(F.col(text_col).cast("string").alias(text_col)) \
        .mapInPandas(local, schema="value string, cnt long")
    return (part.groupBy("value").agg(F.sum("cnt").alias("est_count"))
            .orderBy(F.desc("est_count"), F.col("value")).limit(k))


def rollup(df: DataFrame, keys: Sequence[str],
           aggs: Mapping[str, Column]) -> DataFrame:
    exprs = [c.alias(name) for name, c in aggs.items()]
    return df.rollup(*keys).agg(*exprs)


def cube(df: DataFrame, keys: Sequence[str],
         aggs: Mapping[str, Column]) -> DataFrame:
    exprs = [c.alias(name) for name, c in aggs.items()]
    return df.cube(*keys).agg(*exprs)


def grouping_sets(df: DataFrame, sets: Sequence[Sequence[str]],
                  aggs: Mapping[str, Column], *,
                  marker_cols: bool = True) -> DataFrame:
    """Arbitrary GROUPING SETS (rollup/cube are special cases): one
    shuffle computes every requested grouping — the multi-aggregation
    datamart (DM/Правильное построение витрины с множественными
    агрегациями.md:1) as a single pass instead of one job per grain.

    ``marker_cols`` appends ``g_<key>`` = GROUPING(key) ∈ {0,1} for
    every key so consumers can tell "aggregated-away" NULLs from data
    NULLs — the standard SQL disambiguator.  Physical plan is Spark's
    ``Expand`` (each input row replicated once per set) feeding one
    hash aggregate: rows×|sets| map-side, but still exactly one
    exchange on the grouping columns at any scale."""
    keys: list[str] = []
    for s in sets:
        keys += [k for k in s if k not in keys]
    exprs = [c.alias(name) for name, c in aggs.items()]
    if marker_cols:
        exprs += [F.grouping(k).cast("int").alias(f"g_{k}") for k in keys]
    return df.groupingSets([list(s) for s in sets], *keys).agg(*exprs)


def share_of_total(df: DataFrame, keys: Sequence[str], value: Column, *,
                   share_col: str = "share",
                   value_col: str = "value") -> DataFrame:
    """Per-group share of the grand total (percent-of-total /
    ratio_to_report): one keyed aggregation plus a 1-row total
    broadcast-joined back — NEVER ``SUM() OVER ()``, whose empty
    PARTITION BY funnels every row through a single window partition
    (the same cliff :func:`windows.ntile_buckets` documents).  The
    total re-aggregates the group sums, so the input is scanned once.

    Contract: ``value`` must be a SUM-re-aggregatable aggregate
    (``sum``/``count``) — the grand total is the sum of the per-group
    values, so for ``avg``/``max``/... the "share" would silently be
    share-of-sum-of-averages, not share of the true total.  Known
    non-re-aggregatable kinds are rejected up front."""
    head = str(value).removeprefix("Column<'").lstrip().lower()
    bad = ("avg(", "mean(", "stddev", "std(", "var", "median(",
           "percentile", "min(", "max(", "first(", "last(", "any_value(",
           # per-group distinct counts over-count values appearing in
           # several groups when re-summed
           "count(distinct", "count( distinct")
    if head.startswith(bad):
        raise ValueError(
            f"share_of_total needs a sum-re-aggregatable aggregate "
            f"(sum/count); got {str(value)!r} — its per-group values "
            f"cannot be re-summed into a meaningful grand total")
    grouped = df.groupBy(*keys).agg(value.alias(value_col))
    total = grouped.agg(F.sum(value_col).alias("__total"))
    return (grouped.join(F.broadcast(total))
            .withColumn(share_col,
                        F.col(value_col) / F.col("__total"))
            .drop("__total"))


#: re-aggregatable agg kinds for the two-phase (salted) path
_SALTABLE = {
    "sum": (F.sum, F.sum),
    "count": (lambda c: F.count(c), F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_aggregate(df: DataFrame, keys: Sequence[str],
                     aggs: Mapping[str, tuple[str, Column]],
                     salt: int = 16) -> DataFrame:
    """Two-phase aggregation for skewed group keys: phase 1 aggregates
    on (keys + random salt) so one hot key spreads over ``salt``
    reducers, phase 2 merges the partials per key.

    ``aggs`` maps output name -> (kind, column) with kind in
    sum|count|min|max|avg (avg decomposes to sum/count — exactly the
    partial-state MV pattern).  Spark's own partial aggregation already
    combines map-side; salting additionally splits the REDUCE side,
    which matters when one key dominates a partition.
    """
    salted = df.withColumn("__salt", (F.rand(42) * salt).cast("int"))
    phase1, phase2, finals = [], [], list(keys)
    for name, (kind, col) in aggs.items():
        if kind == "avg":
            phase1 += [F.sum(col).alias(f"{name}__s"),
                       F.count(col).alias(f"{name}__c")]
            phase2 += [F.sum(f"{name}__s").alias(f"{name}__s"),
                       F.sum(f"{name}__c").alias(f"{name}__c")]
            finals.append((F.col(f"{name}__s") / F.col(f"{name}__c"))
                          .alias(name))
        else:
            part, merge = _SALTABLE[kind]
            phase1.append(part(col).alias(name))
            phase2.append(merge(name).alias(name))
            finals.append(F.col(name))
    partial = salted.groupBy(*keys, "__salt").agg(*phase1)
    return partial.groupBy(*keys).agg(*phase2).select(*finals)


# ------------------------------------------------ partial-state (MV) ops

def partial_states(df: DataFrame, keys: Sequence[str],
                   measures: Mapping[str, Column]) -> DataFrame:
    """Phase 1 of the ClickHouse AggregateFunction-state MV pattern:
    per-key re-aggregatable states.  For each measure m we persist
    ``m__sum`` and ``m__cnt`` (enough to merge sum/count/avg exactly).
    The output is itself a valid aggregation input — the incremental-MV
    building block (write per-batch states, merge at read)."""
    exprs = []
    for name, c in measures.items():
        exprs.append(F.sum(c).alias(f"{name}__sum"))
        exprs.append(F.count(c).alias(f"{name}__cnt"))
    return df.groupBy(*keys).agg(*exprs)


def merge_state_tables(states: DataFrame, keys: Sequence[str],
                       measures: Sequence[str]) -> DataFrame:
    """Merge state tables WITHOUT finalizing: sums of sums / counts.
    The result is itself a valid state table — this is the compaction
    primitive (``IncrementalAggMV.compact``) and the first half of
    :func:`merge_states`; one definition so the state schema can't
    drift between the two."""
    return states.groupBy(*keys).agg(
        *[F.sum(f"{m}__sum").alias(f"{m}__sum") for m in measures],
        *[F.sum(f"{m}__cnt").alias(f"{m}__cnt") for m in measures])


def merge_states(states: DataFrame, keys: Sequence[str],
                 measures: Sequence[str],
                 finals: Mapping[str, str] | None = None) -> DataFrame:
    """Phase 2 (``-Merge`` combinators): merge state tables (possibly a
    union of many incremental batches) and finalize.  ``finals`` maps
    output name -> one of sum|count|avg per measure, default avg."""
    finals = finals or {m: "avg" for m in measures}
    merged = merge_state_tables(states, keys, measures)
    cols: list = list(keys)
    for m in measures:
        kind = finals.get(m, "avg")
        if kind == "sum":
            cols.append(F.col(f"{m}__sum").alias(m))
        elif kind == "count":
            cols.append(F.col(f"{m}__cnt").alias(m))
        else:
            cols.append((F.col(f"{m}__sum") / F.col(f"{m}__cnt")).alias(m))
    return merged.select(*cols)


def uniq_state(df: DataFrame, keys: Sequence[str],
               cols: Sequence[str], *, lg_k: int = 12) -> DataFrame:
    """``uniqState`` parity: per-key re-aggregatable DISTINCT-COUNT
    states as Datasketches HLL binaries (``<col>__hll``), completing
    the MV state family beyond sum/count/avg — distinct counts are the
    one aggregate a sum/count pair can NOT incrementally maintain.
    ``lg_k`` = 2^k registers (12 → ~1.5 KB/sketch, ~2% rel. error);
    states from any batch partition union losslessly."""
    return df.groupBy(*keys).agg(
        *[F.hll_sketch_agg(F.col(c), F.lit(lg_k)).alias(f"{c}__hll")
          for c in cols])


def uniq_merge(states: DataFrame, keys: Sequence[str],
               cols: Sequence[str]) -> DataFrame:
    """``uniqMerge`` parity: union per-batch HLL states and estimate —
    ``<col>_uniq`` per input col.  Merge-then-estimate equals
    estimate-over-all-data exactly (sketch union is lossless), which
    is the re-aggregatability contract the MV pattern needs."""
    merged = states.groupBy(*keys).agg(
        *[F.hll_union_agg(F.col(f"{c}__hll")).alias(f"{c}__hll")
          for c in cols])
    return merged.select(
        *keys, *[F.hll_sketch_estimate(F.col(f"{c}__hll"))
                 .alias(f"{c}_uniq") for c in cols])


def pre_aggregate_then_join(base: DataFrame, base_key: str,
                            details: Sequence[tuple[DataFrame, str,
                                                    Mapping[str, Column]]],
                            ) -> DataFrame:
    """The reference's canonical datamart builder (DM/Правильное
    построение витрины с множественными агрегациями.md:5-46): GROUP BY
    each detail table down to <=1 row per key FIRST, then LEFT JOIN the
    shrunken aggregates — structurally impossible to fan out rows.

    details: (detail_df, detail_key, {out_name: agg_col}) per source.
    At scale each detail agg shuffles once on its key and the final
    joins are on pre-reduced (dimension-sized) inputs, which AQE will
    typically broadcast.
    """
    out = base
    for detail, key, aggs in details:
        shrunk = detail.groupBy(F.col(key).alias(base_key)).agg(
            *[c.alias(n) for n, c in aggs.items()])
        out = out.join(shrunk, base_key, "left")
    return out


def cohort_retention(events: DataFrame, *, user_col: str = "user_id",
                     ts_col: str = "ts", grain: str = "week",
                     ) -> DataFrame:
    """Cohort retention mart (the datamart idiom behind every
    "пользовательская активность" dashboard the reference's DM chapter
    builds): bucket each user into the cohort of their FIRST event
    period, then count distinct users active at each period offset.

    Output: (cohort, period_offset, n_users) — cohort as DATE
    (truncated period start), offset in whole periods (floor of
    day-difference / period length, engine-portable integer math —
    DATE_DIFF('week', ...) counts boundary crossings differently
    across engines and is avoided deliberately).

    Plan shape: first-event agg (one shuffle on user), join back to
    events on user (AQE broadcasts the first-event side when small;
    at 100 TB both sides hash-shuffle on user_col once), then the
    count-distinct agg on (cohort, offset).  Distinct-user counting
    is exact here (audit grain); swap approx_count_distinct at
    petabyte grain.
    """
    days = {"week": 7, "month": None, "day": 1}
    if grain not in days:
        raise ValueError(f"cohort_retention: grain {grain!r} not in "
                         f"{sorted(days)}")
    first = (events.groupBy(user_col)
             .agg(F.date_trunc(grain, F.min(ts_col)).alias("__cohort")))
    j = events.join(first, user_col)
    period = F.date_trunc(grain, F.col(ts_col))
    if grain == "month":
        off = ((F.year(period) - F.year("__cohort")) * 12
               + F.month(period) - F.month("__cohort"))
    else:
        off = F.floor(F.datediff(period, F.col("__cohort"))
                      / days[grain])
    return (j.groupBy(F.col("__cohort").cast("date").alias("cohort"),
                      off.cast("bigint").alias("period_offset"))
            .agg(F.count_distinct(F.col(user_col)).alias("n_users"))
            .orderBy("cohort", "period_offset"))


def period_over_period(df: DataFrame, ts_col: str, value: Column, *,
                       grain: str = "week",
                       by: Sequence[str] | None = None,
                       value_col: str = "value") -> DataFrame:
    """Period-over-period mart (WoW/MoM deltas — the standard
    comparison columns next to every datamart time series): aggregate
    ``value`` per truncated period (and ``by`` keys), then attach the
    previous period's value, absolute delta, and percent change via
    one LAG window.

    Plan shape: one hash aggregate (map-side partial) shrinks the
    input to |periods × groups| rows, so the window's shuffle moves
    only the aggregated series — never the events.  Percent change is
    NULL when there is no prior period or it was zero (never a
    division error).
    """
    from pyspark.sql.window import Window
    by = list(by or [])
    period = F.date_trunc(grain, F.col(ts_col)).cast("date")
    agg = (df.groupBy(*by, period.alias("period"))
           .agg(value.alias(value_col)))
    w = Window.partitionBy(*by).orderBy(F.col("period").asc())
    prev = F.lag(F.col(value_col)).over(w)
    return (agg.withColumn("prev_" + value_col, prev)
            .withColumn("delta", F.col(value_col) - prev)
            .withColumn("pct_change",
                        F.when(prev.isNotNull() & (prev != 0),
                               (F.col(value_col) - prev) / prev)))


def retention(events: DataFrame, conds: Sequence[tuple[str, Column]], *,
              user_col: str = "user_id") -> DataFrame:
    """ClickHouse ``retention(cond1, cond2, ...)`` parity: per user,
    ``r_<name1>`` = cond1 fired at least once, and ``r_<namei>`` =
    cond1 AND condi both fired — the anchor-condition semantics
    ClickHouse defines (every later flag is gated on the first).
    Feed the output to a SUM to get the classic retention funnel
    totals; the per-user grain keeps it joinable to dimensions.

    One hash aggregate (bool_or is algebraic, map-side combined):
    the events table shuffles only its partial per-user bitmaps.
    """
    if not conds:
        raise ValueError("retention: no conditions")
    names = [n for n, _ in conds]
    if len(set(names)) != len(names):
        raise ValueError("retention: duplicate condition names")
    per_user = events.groupBy(user_col).agg(
        *[F.bool_or(c).alias(f"__c_{n}") for n, c in conds])
    anchor = F.col(f"__c_{names[0]}")
    out = per_user.select(
        F.col(user_col),
        *[(anchor & F.col(f"__c_{n}")).alias(f"r_{n}") for n in names])
    return out


def sum_map(df: DataFrame, keys: Sequence[str], map_key: str,
            map_val: Column, *, val_name: str = "val") -> DataFrame:
    """ClickHouse ``sumMap`` capability: per ``keys`` group, aggregate
    a (map_key -> value) mapping by key-wise SUM, returned BOTH as a
    real ``map`` column (``summed_map``) and as parallel sorted arrays
    (``map_keys``/``map_vals`` — the engine-portable projection an
    oracle can reproduce with list building).

    Plan shape: pre-aggregate on (keys, map_key) — map-side partial
    combine collapses duplicate map keys BEFORE the shuffle — then one
    collect per group assembles the map; sort_array on the entry
    structs makes assembly order deterministic.  The per-group state
    is |distinct map keys|, the same bound ClickHouse's sumMap state
    carries.

    Contract: ``map_key`` must be non-NULL — a NULL key fails loudly
    at map assembly (Spark rejects NULL map keys) rather than being
    silently dropped; filter or COALESCE upstream if NULLs are
    expected.
    """
    keys = list(keys)
    inner = (df.groupBy(*keys, F.col(map_key).alias("__k"))
             .agg(map_val.alias("__v")))
    entries = F.sort_array(F.collect_list(F.struct(
        F.col("__k").alias("k"), F.col("__v").alias("v"))))
    return (inner.groupBy(*keys)
            .agg(entries.alias("__e"))
            .select(*keys,
                    F.map_from_arrays(
                        F.transform("__e", lambda e: e["k"]),
                        F.transform("__e", lambda e: e["v"]))
                    .alias("summed_map"),
                    F.transform("__e", lambda e: e["k"])
                    .alias("map_keys"),
                    F.transform("__e", lambda e: e["v"])
                    .alias("map_vals")))


def with_totals(df: DataFrame, keys: Sequence[str],
                aggs: Mapping[str, Column], *,
                total_col: str = "is_total",
                merge: Mapping[str, Column] | None = None) -> DataFrame:
    """ClickHouse ``GROUP BY ... WITH TOTALS`` parity: the per-group
    rows PLUS one grand-total row (keys NULL, ``total_col`` true) in a
    single result — the datamart convenience that saves the dashboard
    a second total query.

    Default plan — ONE aggregation: rollup + a grouping_id filter
    keeping only the detail level and the all-keys-rolled level
    (intermediate subtotal levels are dropped — WITH TOTALS has no
    per-prefix subtotals; rollup's partial aggregation means the
    extra level costs one more combine, not a second scan).  Works
    for ANY aggregate (avg, count_distinct, sketches) — but rollup's
    Expand duplicates every INPUT row once per kept level, so the
    fact table flows through the hash aggregate twice (measured: 2×
    agg time on a 60M-row lineitem at sf10).

    ``merge`` — the ALGEBRAIC fast path: when every aggregate can be
    re-aggregated from the group rows (sum of sums, sum of counts,
    min of mins...), pass merge exprs over the OUTPUT column names
    and the totals row is derived from the |groups|-row aggregate
    instead of a second pass over the fact: one exchange over the
    data, no Expand, the totals re-aggregation touches k rows.
    Caveat: on EMPTY input the two paths differ — rollup (a grouped
    aggregate) emits NO rows at all, while the merge path emits one
    totals row whose merged values are NULL (the totals leg is a
    GLOBAL aggregate, which always yields a row) — count-like merges
    should ``coalesce(sum(n), 0)`` if empty inputs matter.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("with_totals: needs grouping keys")
    if merge is not None:
        missing = set(merge) - set(aggs)
        if missing:
            raise ValueError(f"with_totals: merge exprs for unknown "
                             f"output columns {sorted(missing)}")
        if set(merge) != set(aggs):
            raise ValueError("with_totals: merge must cover every "
                             "aggregate output column, or the totals "
                             "row would silently drop "
                             f"{sorted(set(aggs) - set(merge))}")
        g = df.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])
        totals = g.agg(*[c.alias(n) for n, c in merge.items()])
        # align the totals row to the group schema: re-aggregation
        # widens types (sum of decimal sums gains precision digits),
        # and the union below must not silently coerce the detail side
        for n in aggs:
            totals = totals.withColumn(
                n, F.col(n).cast(g.schema[n].dataType))
        for k in keys:
            totals = totals.withColumn(k, F.lit(None).cast(g.schema[k]
                                                           .dataType))
        detail = g.withColumn(total_col, F.lit(False))
        return detail.unionByName(
            totals.withColumn(total_col, F.lit(True)))
    full = (1 << len(keys)) - 1
    gid = F.grouping_id(*[F.col(k) for k in keys])
    out = (df.rollup(*keys)
           .agg(*[c.alias(n) for n, c in aggs.items()],
                gid.alias("__gid"))
           .where(F.col("__gid").isin(0, full)))
    return (out.withColumn(total_col, F.col("__gid") == full)
            .drop("__gid"))


def topn_others(df: DataFrame, key: str, value: Column, *, n: int = 3,
                others_label: str = "other",
                value_col: str = "value") -> DataFrame:
    """Top-N-plus-'others' mart (the dashboard idiom the reference's
    multi-aggregation datamart chapter builds toward: show the big
    contributors, roll the tail into one row so the chart stays
    readable and the total stays honest).

    ONE keyed aggregation shrinks the input to |keys| rows; the rank
    window and the relabel+re-aggregate run on that tiny aggregate —
    at 100 TB the only full-data cost is the first map-side-combined
    aggregate.  Ranking ties break on the key for determinism.
    """
    from pyspark.sql.window import Window
    agg = df.groupBy(key).agg(value.alias(value_col))
    # single-partition windows are FINE here: they rank/scan the
    # |keys|-row aggregate, never the input (contrast ntile_buckets'
    # warning)
    w = Window.orderBy(F.col(value_col).desc(), F.col(key).asc())
    every = Window.partitionBy()
    # a REAL category named exactly like the roll-up label would be
    # silently merged with the tail row — fail loudly instead.  The
    # guard is IN the plan (raise_error over a window max on the
    # shrunk aggregate), not an eager probe action: the input is
    # still scanned exactly once, at evaluation time.
    collided = F.max((F.col(key) == others_label).cast("int")) \
        .over(every) == 1
    ranked = agg.withColumn("__rk", F.row_number().over(w))
    lab = F.when(
        collided,
        F.raise_error(F.lit(
            f"topn_others: a real {key} value equals the others "
            f"label {others_label!r}; pass a different others_label"))
        .cast(agg.schema[key].dataType)) \
        .when(F.col("__rk") <= n, F.col(key)) \
        .otherwise(F.lit(others_label))
    return (ranked.select(lab.alias(key), value_col)
            .groupBy(key).agg(F.sum(value_col).alias(value_col)))
