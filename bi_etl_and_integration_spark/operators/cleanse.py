"""Cleansing / data-quality operators (SURVEY.md §2.3, §2.8).

Reference parity:
  - Data Conversion w/ divertable failures (PRO/Глава 05:80, Глава 08:63)
    -> ``cast_with_quarantine`` (try-cast + error stream).
  - Character Map (APRESS/004.md:78-80) -> ``character_map``.
  - Audit columns (APRESS/003.md:11-15) -> ``audit``.
  - Row Count into pipeline variable (PRO/Глава 05:81) -> ``row_count``
    via ``observe`` (single-pass, no extra job).
  - Data Profiling (PRO/Глава 10:18-30) -> ``profile``.
  - DQS domain cleansing: Corrected/Suggested/Invalid streams
    (PRO/Глава 11:66-84) -> ``domain_cleanse`` (rules are DATA — a
    domain DataFrame + correction map — editable without touching ETL).
  - Regex validation Script-Component example (PRO/Глава 09:82-102)
    -> ``regex_validate``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def cast_with_quarantine(df: DataFrame, col: str, dtype: str,
                         out: str | None = None,
                         ) -> tuple[DataFrame, DataFrame]:
    """Cast ``col`` to ``dtype``; rows where the cast fails (non-null
    source, null result) divert to the error stream.  Returns
    (good_with_cast, quarantined)."""
    cast = F.col(col).try_cast(dtype)
    # judged on the SOURCE column, before ``out`` (default: ``col``
    # itself) is overwritten with the cast result
    failed = F.col(col).isNotNull() & cast.isNull()
    return (df.where(~failed).withColumn(out or col, cast),
            df.where(failed))


def character_map(df: DataFrame, mappings: Mapping[str, str],
                  in_place: bool = True) -> DataFrame:
    """Character Map: 'upper'/'lower' (and 'translate:abc:xyz') ops."""
    out = df
    for col, op in mappings.items():
        if op == "upper":
            c = F.upper(F.col(col))
        elif op == "lower":
            c = F.lower(F.col(col))
        elif op.startswith("translate:"):
            _, frm, to = op.split(":", 2)
            c = F.translate(F.col(col), frm, to)
        else:
            raise ValueError(f"unknown character_map op {op!r}")
        out = out.withColumn(col if in_place else f"{col}_{op}", c)
    return out


def audit(df: DataFrame, pipeline_name: str, **extra) -> DataFrame:
    """Append system metadata columns (Audit transform)."""
    out = (df.withColumn("audit_load_ts", F.current_timestamp())
             .withColumn("audit_pipeline", F.lit(pipeline_name)))
    for k, v in extra.items():
        out = out.withColumn(f"audit_{k}", F.lit(v))
    return out


def row_count(df: DataFrame, name: str = "rows",
              ) -> tuple[DataFrame, Observation]:
    """Row Count transform: count rows flowing through WITHOUT a second
    pass — ``Observation`` piggybacks on whatever action consumes the
    flow (the SSIS semantics: variable available after the flow ran)."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias(name)), obs


def profile(df: DataFrame, columns: Sequence[str] | None = None, *,
            exact_distinct: bool = False,
            rsd: float = 0.05) -> DataFrame:
    """Data Profiling: one aggregation pass computing per-column null
    count/ratio, approx distinct, min/max — the pre-ETL analysis the
    reference prescribes (candidate keys = distinct ≈ rowcount).

    ``exact_distinct=True`` adds an ``exact_distinct`` column — the
    audit mode that certifies the sketch: downstream checks can
    band-compare ``approx_distinct`` against it.  Default off: at
    100 TB the whole point of the sketch is NOT paying k exact
    distinct counts.

    Plan shape matters here.  The exact counts are deliberately NOT
    folded into the main aggregate as k ``COUNT(DISTINCT c)``s —
    multiple distinct aggregates force Catalyst's Expand-based plan
    (input multiplied by k+1, with every partial — including the
    HLL registers — carried through the expanded shuffle; measured
    at sf0.1 that was a 106 s / 39 MB-shuffle / spilling plan).
    Instead each column gets its own two-phase distinct
    (``SELECT c … GROUP BY c`` partial-combine, then a count), which
    prunes the parquet scan to that single column, map-side-combines
    before the shuffle, and unions k one-row results broadcast-joined
    back onto the sketch pass.  k narrow column scans beat one
    (k+1)×-expanded full scan at every scale.

    ``rsd`` is the sketch's relative standard deviation (Spark
    default 0.05); memory grows ~1/rsd², so 0.01 costs ~100 KB per
    column — cheap for audit runs, tune up for wide fire-hose
    profiles.  Note rsd is one SIGMA, not a bound: a band check at
    k×rsd is a k-sigma assertion."""
    from functools import reduce
    cols = list(columns or df.columns)
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.approx_count_distinct(c, rsd)
                    .alias(f"{c}__distinct"))
        aggs.append(F.min(F.col(c).cast("string")).alias(f"{c}__min"))
        aggs.append(F.max(F.col(c).cast("string")).alias(f"{c}__max"))
    row = df.agg(*aggs)
    per_col = []
    for c in cols:
        per_col.append(F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("approx_distinct"),
            F.col(f"{c}__min").alias("min"),
            F.col(f"{c}__max").alias("max")))
    base = (row.select(F.explode(F.array(*per_col)).alias("p"))
            .select("p.*"))
    if not exact_distinct:
        return base
    exacts = reduce(DataFrame.unionByName, [
        df.select(F.col(c).alias("__v"))
        .where(F.col("__v").isNotNull())
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("exact_distinct"))
        .select(F.lit(c).alias("column"), "exact_distinct")
        for c in cols])
    return (base.join(F.broadcast(exacts), "column", "left")
            .select("column", "n_rows", "n_nulls", "approx_distinct",
                    "exact_distinct", "min", "max"))


def value_histogram(df: DataFrame, col: str, lo: float, hi: float,
                    n_buckets: int = 10) -> DataFrame:
    """Equi-width value distribution (PRO/Глава 03:81-85 profiling:
    "value distributions"): exact counts per bucket in ONE hash
    aggregation — bucket = floor((x-lo)/width), top edge clamped into
    the last bucket.  Exact and engine-portable, unlike sampled
    `histogram_numeric`; fixed bucket count keeps the shuffle O(n_buckets)
    at any data size.  Output: (bucket, bucket_lo, n)."""
    width = (hi - lo) / n_buckets
    b = F.least(F.floor((F.col(col) - lo) / width).cast("long"),
                F.lit(n_buckets - 1))
    return (df.where(F.col(col).isNotNull())
            .groupBy(b.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("bucket_lo",
                        (F.lit(lo) + F.col("bucket") * width)
                        .cast("double"))
            .select("bucket", "bucket_lo", "n"))


def functional_dependencies(df: DataFrame,
                            pairs: Sequence[tuple[str, str]]) -> DataFrame:
    """Functional-dependency profiling (PRO/Глава 03:81-85: the
    profiler's "functional deps / key candidates" analysis): a → b
    holds iff every a-value maps to exactly one b-value, i.e.
    COUNT(DISTINCT a) == COUNT(DISTINCT (a, b)).

    One two-level distinct aggregation per pair — k pairs cost k scans
    + 2k small shuffles.  A GROUPING SETS variant that fuses every pair
    into one scan was measured ~25% SLOWER at sf0.1 (its
    #determinants × #distinct-aggs expand outweighs the saved scans)
    and is not kept.

    The violation count (#determinant values with >1 dependent)
    quantifies HOW broken a dependency is, not just whether.
    Output per pair: (determinant, dependent, n_det, n_pair, holds,
    n_violations)."""
    outs = []
    for a, b in pairs:
        grp = (df.groupBy(a)
               .agg(F.count_distinct(F.col(b)).alias("__nb")))
        agg = grp.agg(
            F.count(F.lit(1)).alias("n_det"),
            F.sum("__nb").alias("n_pair"),
            F.sum((F.col("__nb") > 1).cast("long")).alias("n_violations"))
        outs.append(agg.select(
            F.lit(a).alias("determinant"), F.lit(b).alias("dependent"),
            F.col("n_det"), F.col("n_pair"),
            (F.col("n_violations") == 0).alias("holds"),
            F.col("n_violations")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def regex_validate(df: DataFrame, col: str, pattern: str,
                   ) -> dict[str, DataFrame]:
    """Regex check splitting valid/invalid streams."""
    ok = F.col(col).rlike(pattern)
    return {"valid": df.where(ok),
            "invalid": df.where(~ok | F.col(col).isNull())}


def domain_cleanse(df: DataFrame, col: str, domain: DataFrame,
                   domain_col: str,
                   corrections: Mapping[str, str] | DataFrame | None = None,
                   ) -> dict[str, DataFrame]:
    """DQS-style cleansing against a valid-value domain table.

    Streams: ``valid`` (exact domain member), ``corrected`` (value had a
    correction-map entry), ``invalid``.  The domain is broadcast
    (dictionary semantics).  Correction rules live in data, not code —
    the reference's 'KB editable without touching ETL' requirement
    (PRO/Глава 11:84): pass either a small driver-side mapping or, the
    scale path, a two-column (from, to) DataFrame that joins in as a
    broadcast dictionary — the rule table never touches the driver.
    """
    dom = F.broadcast(domain.select(F.col(domain_col).alias("__dom"))
                      .distinct())
    base = df.join(dom, df[col] == F.col("__dom"), "left")
    valid = base.where(F.col("__dom").isNotNull()).drop("__dom")
    rest = base.where(F.col("__dom").isNull()).drop("__dom")
    if isinstance(corrections, DataFrame):
        if len(corrections.columns) != 2:
            raise ValueError(
                "corrections DataFrame must have exactly two columns "
                f"(from, to); got {corrections.columns}")
        # a 'from' key mapping to two targets would FAN OUT every
        # matching row through the left join (streams stop reconciling
        # with the input), so collapse rules per key and raise AT
        # EXECUTION on ambiguity — no extra validation job, still loud
        corr = F.broadcast(
            corrections.toDF("__from", "__f").distinct()
            .groupBy("__from").agg(F.collect_set("__f").alias("__fixes")))
        fixed = (rest.join(corr, rest[col] == F.col("__from"), "left")
                 .withColumn(
                     "__fix",
                     F.when(F.size("__fixes") > 1, F.raise_error(F.concat(
                         F.lit("corrections map "), F.col("__from"),
                         F.lit(" to multiple targets; correction keys "
                               "must be unique"))).cast("string"))
                     .otherwise(F.col("__fixes")[0]))
                 .drop("__from", "__fixes"))
        corrected = (fixed.where(F.col("__fix").isNotNull())
                     .withColumn(col, F.col("__fix")).drop("__fix"))
        invalid = fixed.where(F.col("__fix").isNull()).drop("__fix")
    elif corrections:
        corr_map = F.create_map(
            *[F.lit(x) for kv in corrections.items() for x in kv])
        fixed = rest.withColumn("__fix", corr_map[F.col(col)])
        corrected = (fixed.where(F.col("__fix").isNotNull())
                     .withColumn(col, F.col("__fix")).drop("__fix"))
        invalid = fixed.where(F.col("__fix").isNull()).drop("__fix")
    else:
        corrected = rest.limit(0)
        invalid = rest
    return {"valid": valid, "corrected": corrected, "invalid": invalid}


def keyed_diff_parts(source: DataFrame, target: DataFrame,
                     keys: Sequence[str],
                     compare_cols: Sequence[str] | None):
    """Shared scaffolding for :func:`reconcile` and
    ``cdc.snapshot_diff``: aliased full-outer join on the keys plus the
    per-column null-safe difference markers.  Returns
    ``(joined, s_key, t_key, markers, out_keys, compare_cols)`` where
    ``markers[i]`` is the i-th compare column's name when it differs
    (NULL otherwise) and ``out_keys`` are the coalesced key columns.
    NOTE: a NULL key value never matches across sides (SQL join
    semantics) — rows with NULL business keys classify as
    source-only + target-only, not as a match."""
    if compare_cols is None:
        compare_cols = [c for c in source.columns
                        if c not in keys and c in target.columns]
    s = source.alias("s")
    t = target.alias("t")
    cond = None
    for k in keys:
        eq = F.col(f"s.{k}") == F.col(f"t.{k}")
        cond = eq if cond is None else cond & eq
    j = s.join(t, cond, "full_outer")
    s_key, t_key = F.col(f"s.{keys[0]}"), F.col(f"t.{keys[0]}")
    markers = [F.when(~F.col(f"s.{c}").eqNullSafe(F.col(f"t.{c}")),
                      F.lit(c)) for c in compare_cols]
    out_keys = [F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k)
                for k in keys]
    return j, s_key, t_key, markers, out_keys, list(compare_cols)


def reconcile(source: DataFrame, target: DataFrame, keys: Sequence[str],
              compare_cols: Sequence[str] | None = None, *,
              status_col: str = "status",
              changed_col: str = "changed_cols") -> DataFrame:
    """Row-level source-vs-target reconciliation — the Row Count audit
    (APRESS/003.md:8-10) extended from totals to a keyed diff, i.e.
    the migration-validation step for PG→CH style reloads
    (SCRIPTS/Перелив данных из PostgreSQL в ClickHouse.md) and the
    change-detection compare dimension loads perform per attribute
    (PRO/Глава 10:41-48).

    One full-outer sort-merge join on the keys; every column compare is
    null-safe (``<=>``) and runs in the same codegen stage — no second
    pass, no collect.  Output: key columns + ``status`` ∈
    {only_source, only_target, changed, same} + ``changed_cols``
    (comma-joined names, NULL unless status='changed').  At 100 TB
    both sides shuffle once on the key; pre-bucketed tables drop both
    Exchanges.

    The join IS the right plan (measured, SCALE.md round 10): a
    union-tagged single aggregate (1.95 s) and a single-scan explode
    restatement (1.63 s) both LOSE to the full-outer SMJ (0.93 s at
    sf10) — doubling rows through a per-key hash aggregate costs more
    than merging two sorted streams."""
    j, s_key, t_key, markers, out_keys, compare_cols = keyed_diff_parts(
        source, target, keys, compare_cols)
    changed = F.concat_ws(",", *markers)
    status = (F.when(t_key.isNull(), F.lit("only_source"))
              .when(s_key.isNull(), F.lit("only_target"))
              .when(changed != "", F.lit("changed"))
              .otherwise(F.lit("same")))
    return j.select(*out_keys, status.alias(status_col),
                    F.when(status == "changed", changed)
                    .alias(changed_col))


def _group_stats_join(df: DataFrame, by: Sequence[str],
                      stats: "list[Column]") -> DataFrame:
    """Shared shape of the group-statistics operators (flag_outliers,
    standardize): ONE tiny stats aggregate per ``by`` group + a
    broadcast join-back, so the wide input never shuffles (no-group
    case degrades to a 1-row broadcast cross join)."""
    if by:
        grp = df.groupBy(*by).agg(*stats)
        return df.join(F.broadcast(grp), list(by), "left")
    return df.crossJoin(F.broadcast(df.agg(*stats)))


def flag_outliers(df: DataFrame, value_col: str,
                  by: Sequence[str] | None = None, *,
                  method: str = "zscore", k: float = 3.0,
                  approx: bool = False, accuracy: int = 10_000,
                  flag_col: str = "is_outlier") -> DataFrame:
    """Group-wise statistical outlier detection — the data-profiling
    follow-through the reference's DQ chapter stops short of
    (PRO/Глава 10:18-30 profiles columns; this flags the rows): mark
    each row whose ``value_col`` is anomalous within its ``by`` group.

    method='zscore': |x - mean| > k * stddev_samp  (k defaults to 3).
    method='iqr':    x outside [q1 - k*iqr, q3 + k*iqr] with exact
                     interpolated quartiles (k defaults to 1.5 — pass
                     it explicitly).

    ``approx=True`` (iqr only) swaps the exact quartiles for
    ``approx_percentile`` — this is the 100 TB path.  The exact
    ``percentile`` aggregate buffers a value→count map PER GROUP whose
    size is the group's value cardinality (fine for audit runs on
    bounded domains, unbounded for e.g. float measurements), while the
    KLL-style sketch behind ``approx_percentile`` is fixed-size
    (~``accuracy`` entries, default 10k ⇒ rank error ≤ 0.01 %) and
    merges associatively in the partial-aggregation step.  Same plan
    shape, bounded state.  Quartile landing between two data points
    differs from exact interpolation by at most one rank-error step —
    irrelevant for a k·IQR fence.

    Plan shape: one hash aggregate over ``by`` producing the per-group
    statistics (a few rows per group), then ONE join back — AQE
    broadcasts the stats side (group count ≪ row count), so the wide
    input never shuffles.  A window over ``by`` would shuffle every
    row instead; percentiles also aren't window-able.  At 100 TB the
    agg does map-side partial aggregation and the join is a broadcast:
    the only full-data cost is the scan.

    Groups with NULL/zero spread (single row, constant value) flag
    nothing.  NULL values are never outliers.
    """
    by = list(by or [])
    v = F.col(value_col)
    if method == "zscore":
        stats = [F.avg(v).alias("__mu"), F.stddev_samp(v).alias("__sd")]
        is_out = (F.col("__sd").isNotNull() & (F.col("__sd") > 0)
                  & (F.abs(v - F.col("__mu")) > k * F.col("__sd")))
        drop = ["__mu", "__sd"]
    elif method == "iqr":
        # ONE array-form percentile aggregate — two scalar percentile
        # calls each build their own per-group state over the full
        # input (measured ~2x the aggregate cost at sf0.1)
        if approx:
            stats = [F.expr(
                f"approx_percentile({value_col}, array(0.25, 0.75), "
                f"{int(accuracy)})").alias("__qs")]
        else:
            stats = [F.expr(
                f"percentile({value_col}, array(0.25, 0.75))")
                .alias("__qs")]
        q1 = F.col("__qs").getItem(0)
        q3 = F.col("__qs").getItem(1)
        iqr = q3 - q1
        is_out = (iqr.isNotNull()
                  & ((v < q1 - k * iqr) | (v > q3 + k * iqr)))
        drop = ["__qs"]
    else:
        raise ValueError(f"flag_outliers: unknown method {method!r}")
    joined = _group_stats_join(df, by, stats)
    return joined.withColumn(
        flag_col, F.coalesce(is_out, F.lit(False))).drop(*drop)


def mask_columns(df: DataFrame, rules: Mapping[str, object],
                 ) -> DataFrame:
    """Deterministic data masking / pseudonymization — the outbound
    twin of DQS cleansing (PRO/Глава 11's domain rules are data; so
    are these masking rules): ship warehouse extracts without shipping
    PII, while preserving joinability and format where required.

    rules maps column -> spec:
      'hash'            sha256 hex token: deterministic, so the same
                        input masks to the same token everywhere —
                        cross-table joins on the masked value still
                        work (pseudonymization, not anonymization);
      ('partial', n)    keep the LAST n characters, star the rest
                        ('4111111111111111' -> '************1111');
                        values with length <= n are FULLY starred —
                        a short value must not leak whole;
      'redact'          NULL out the value (type-preserving);
      ('fixed', v)      constant replacement value.

    All specs compile to plan literals — pure whole-stage-codegen
    expressions, no UDF, no shuffle; at 100 TB this is scan-speed.
    """
    out = df
    for col, spec in rules.items():
        c = F.col(col)
        if spec == "hash":
            m = F.when(c.isNull(), F.lit(None).cast("string")) \
                .otherwise(F.sha2(c.cast("string"), 256))
        elif spec == "redact":
            m = F.lit(None).cast(df.schema[col].dataType)
        elif isinstance(spec, tuple) and spec[0] == "partial":
            n = int(spec[1])
            s = c.cast("string")
            m = F.when(c.isNull(), F.lit(None).cast("string")) \
                .when(F.length(s) <= n, F.repeat(F.lit("*"), F.length(s))) \
                .otherwise(F.concat(F.repeat(F.lit("*"), F.length(s) - n),
                                    F.substring(s, -n, n)))
        elif isinstance(spec, tuple) and spec[0] == "fixed":
            m = F.lit(spec[1]).cast(df.schema[col].dataType)
        else:
            raise ValueError(f"mask_columns: unknown spec {spec!r} "
                             f"for column {col!r}")
        out = out.withColumn(col, m)
    return out


def skew_report(df: DataFrame, key_cols: Sequence[str], *,
                top: int = 10) -> DataFrame:
    """Join/aggregation-key skew diagnostic — the measurement behind
    the salting decision (``relational.salted_join`` /
    ``aggregate.salted_aggregate`` fix what this detects): per-key row
    counts for the ``top`` heaviest keys, each with its share of total
    rows and the ratio to the MEAN key load.  A top key holding >5-10%
    of rows (or ratio ≫ 100×) is the one that will pin a reducer at
    100 TB.

    Plan shape: one hash aggregate on the keys (map-side combine), a
    1-row global-stats frame cross-joined back as a broadcast scalar,
    TakeOrdered for the top slice — no total sort, no collect.
    """
    keys = [F.col(c) for c in key_cols]
    counts = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    stats = counts.agg(
        F.sum("n_rows").cast("double").alias("__total"),
        F.avg("n_rows").alias("__mean"))
    return (counts.crossJoin(F.broadcast(stats))
            .select(*key_cols, "n_rows",
                    (F.col("n_rows") / F.col("__total"))
                    .alias("share_of_rows"),
                    (F.col("n_rows") / F.col("__mean"))
                    .alias("x_mean"))
            .orderBy(F.col("n_rows").desc(), *key_cols)
            .limit(top))


def standardize(df: DataFrame, value_col: str,
                by: Sequence[str] | None = None, *,
                out_col: str | None = None) -> DataFrame:
    """Group-wise z-score standardization ((x - mean) / stddev_samp
    within the ``by`` group) — the feature-scaling staple of every
    learned-quality/embedding pipeline, and the transform half of
    :func:`flag_outliers` (same statistics, returned as a value
    instead of a fence verdict).

    Same scale-safe plan: ONE tiny stats aggregate + a broadcast
    join-back, the wide input never shuffles.  Groups with NULL/zero
    spread and NULL inputs yield NULL (a constant column has no
    z-score; silently emitting 0 would fabricate information).
    """
    by = list(by or [])
    v = F.col(value_col)
    stats = [F.avg(v).alias("__mu"), F.stddev_samp(v).alias("__sd")]
    joined = _group_stats_join(df, by, stats)
    z = F.when(F.col("__sd").isNotNull() & (F.col("__sd") > 0),
               (v - F.col("__mu")) / F.col("__sd"))
    return (joined.withColumn(out_col or f"{value_col}_z", z)
            .drop("__mu", "__sd"))
