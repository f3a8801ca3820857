"""Relational operators: projections, splits, joins, lookups, set ops,
sort/top-k, sampling, pivot/unpivot (SURVEY.md §2.3, §2.4, §2.7).

Everything here returns lazy DataFrames; Catalyst handles pushdown,
pruning, join-strategy selection and AQE re-planning.  The only manual
physical hints are the broadcast on dictionary-style lookups (Lookup
Full Cache, PRO/Глава 07:33-37) — exactly the one decision the
reference also makes by hand.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bi_etl_and_integration_spark.operators.windows import limit_by

ColumnLike = Column | str

#: spread_for_compute source-size floor: below this many bytes the
#: exchange costs more than the serial pass it parallelizes (VERDICT
#: r11 item 3, measured on the driver's sf0.1 fixtures: x42 went
#: 0.68 -> 1.07 s when the spread fired on a 0.6 MB documents file;
#: at 6 MB/50k docs the spread is a clear win — shingle passes there
#: run seconds serial vs ~0.1 s exchange).  4 MB sits between those
#: two measured regimes.
_SPREAD_MIN_BYTES = 4 * 1024 * 1024


def source_bytes(files: Sequence[str]) -> int | None:
    """Total on-disk bytes of ``inputFiles()`` paths — the size reader
    behind every plan-time scale decision.  None when unknowable (no
    files: an in-memory frame; or a path local stat cannot reach: a
    remote FS); callers treat None as unknown, never as small."""
    if not files:
        return None
    try:
        return sum(os.stat(f.removeprefix("file:")).st_size for f in files)
    except OSError:
        return None


def spread_for_compute(df: DataFrame, id_col: str, *,
                       min_bytes: int = _SPREAD_MIN_BYTES) -> DataFrame:
    """Scale-adaptive input spread for CPU-heavy per-row passes
    (shingling, window hashing, embedding folds, regex/JSON parses):
    when the source's scan parallelism is below the session's core
    count — a single parquet file with one or a few row groups cannot
    be split further; every split beyond the row-group count is EMPTY
    (a split gets the row groups whose midpoint falls in its range),
    so the whole compute pass serializes onto 1-5 tasks — pay one
    cheap hash exchange of the raw input rows to fan the compute out
    across all cores (the optimization-guide remedy for input skew:
    "one huge unsplittable file … repartition immediately after the
    read").  The engine's only parallelism helper.

    Hash-partitioned on ``id_col`` (deterministic under task retry,
    and no sortBeforeRepartition pass, unlike round-robin).  Guarded
    three ways (all no-op paths — the spread only fires when every
    guard agrees the compute would otherwise serialize):

      - file count: >= core-count whole files is production-shaped
        input, no exchange needed;
      - source size: below ``min_bytes`` the exchange costs more than
        the serial pass it parallelizes (VERDICT r11 item 3 — x42 at
        the 0.6 MB sf0.1 fixture regressed 0.68 -> 1.07 s); an
        unknown size falls through to the next guard;
      - split count AND footer row-group count: split count lies for
        few-row-group files (splits beyond the row-group count are
        empty), so both must clear the core count.  An unreadable
        ``.parquet`` footer (remote FS) counts as zero row groups —
        the conservative spread; in-memory frames and other formats
        are row-splittable, so the SPLIT count alone decides (ADVICE
        r11: an already-parallel CSV/JSON or createDataFrame input
        must stay a no-op).

    Measured (r11, sf10 one-file fixtures): minhash corpus banding
    13.3 -> 2.8 s; x43 bench shape 61.6 -> 9.4 s same digest."""
    p = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — exotic sources: assume files
        files = None
    if files is not None and len(files) >= p:
        return df  # enough whole files to parallelize — no-op
    nbytes = source_bytes(files)
    if nbytes is not None and nbytes < min_bytes:
        return df  # tiny source: serial pass beats the exchange
    splits = df.rdd.getNumPartitions()
    rgs = 0 if files else splits  # no files: row-splittable, trust splits
    for f in files or []:
        try:
            import pyarrow.parquet as pq
            rgs += pq.ParquetFile(
                f.removeprefix("file:")).metadata.num_row_groups
        except Exception:  # noqa: BLE001 — unreadable or not parquet
            rgs = 0 if f.endswith(".parquet") else splits
            break
        if rgs >= p:
            break
    if min(splits, rgs) >= p:
        return df
    return df.repartition(p, F.col(id_col))


def project(df: DataFrame, *cols: ColumnLike, **derived: Column) -> DataFrame:
    """Column pruning + Derived Column in one select ("SELECT * is bad",
    PRO/Глава 12:22-24; Derived Column, PRO/Глава 11:14-23)."""
    out = [F.col(c) if isinstance(c, str) else c for c in cols]
    out += [c.alias(name) for name, c in derived.items()]
    return df.select(*out)


def conditional_split(df: DataFrame, branches: Mapping[str, Column],
                      default: str | None = "default",
                      ) -> dict[str, DataFrame]:
    """Conditional Split (PRO/Глава 05:75): route rows to the FIRST
    matching predicate; optional default output catches the rest.

    Returns {name: DataFrame}.  Each branch is a filter over the same
    parent, so Catalyst pushes each predicate to the scan independently
    — no materialization, no row duplication.
    """
    out: dict[str, DataFrame] = {}
    not_prior: Column | None = None
    for name, pred in branches.items():
        cond = pred if not_prior is None else (not_prior & pred)
        out[name] = df.where(cond)
        matched_now = pred.isNotNull() & pred  # null predicate = no match
        not_prior = (~matched_now if not_prior is None
                     else not_prior & ~matched_now)
    if default is not None:
        out[default] = df.where(not_prior) if not_prior is not None else df
    return out


# ---------------------------------------------------------------- joins

def lookup(df: DataFrame, ref: DataFrame, on: Sequence[str] | Column, *,
           broadcast: bool = True, how: str = "left") -> DataFrame:
    """Lookup transform (PRO/Глава 07:33-39).

    ``broadcast=True`` = Full Cache (reference table shipped to every
    task, no shuffle of the big flow).  ``broadcast=False`` = partial/no
    cache; Spark's shuffled hash / sort-merge join with AQE covers the
    big-reference regime.
    """
    r = F.broadcast(ref) if broadcast else ref
    return df.join(r, on, how)


def lookup_split(df: DataFrame, ref: DataFrame, on: Sequence[str],
                 ref_indicator: str, *, broadcast: bool = True,
                 ) -> tuple[DataFrame, DataFrame]:
    """Lookup with match / no-match outputs (PRO/Глава 07:36):
    ``ref_indicator`` is any non-null column of ``ref`` used to detect a
    miss after the left join.  Returns (match, no_match)."""
    joined = lookup(df, ref, on, broadcast=broadcast, how="left")
    hit = F.col(ref_indicator).isNotNull()
    return joined.where(hit), joined.where(~hit)


def dict_lookup(df: DataFrame, mapping: Mapping, key_col: str,
                out_col: str, default=None) -> DataFrame:
    """``dictGet`` for literal dictionaries (DM/Правильное построение
    витрины с множественными агрегациями.md:52-76): the mapping ships
    inside the plan as a map literal — zero joins, zero shuffles, pure
    projection.  For dictionaries beyond a few thousand entries use
    ``lookup`` (broadcast join) instead."""
    entries = [x for kv in mapping.items() for x in kv]
    m = F.create_map(*[F.lit(x) for x in entries])
    looked = m[F.col(key_col)]
    if default is not None:
        looked = F.coalesce(looked, F.lit(default))
    return df.withColumn(out_col, looked)


def cascade_lookup(fact: DataFrame,
                   dims: Sequence[tuple[DataFrame, Sequence[str], str, str]],
                   unknown_key: int = -1) -> DataFrame:
    """Surrogate-key fan-in (PRO/Глава 07:47, Глава 10:69-76): chain of
    broadcast lookups replacing business keys with surrogate keys;
    misses get the Unknown member ``unknown_key`` instead of dropping.

    dims: (dim_df, join_keys, dim_sk_col, out_col) per dimension.
    """
    out = fact
    for dim, keys, sk, alias in dims:
        out = (out.join(F.broadcast(dim.select(*keys, sk)), list(keys), "left")
               .withColumn(alias, F.coalesce(F.col(sk), F.lit(unknown_key))))
        if sk != alias:
            out = out.drop(sk)
    return out


def join(left: DataFrame, right: DataFrame, on, how: str = "inner",
         ) -> DataFrame:
    """Merge Join / relational join (PRO/Глава 07:51-58).  The SSIS
    pre-sort requirement disappears: Spark sorts inside SortMergeJoin
    only when the strategy needs it."""
    return left.join(right, on, how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_anti")


def range_join(left: DataFrame, right: DataFrame, equi_on: Column,
               range_cond: Column) -> DataFrame:
    """Theta/range join (beyond-reference, SURVEY §2.4 Q17): equi keys
    first so Spark plans a hash/SMJ join with the range predicate as a
    post-filter instead of a cartesian product."""
    return left.join(right, equi_on & range_cond, "inner")


def asof_join(left: DataFrame, right: DataFrame, key: str,
              left_ts: str, right_ts: str,
              direction: str = "backward",
              right_order: Sequence[str] | None = None) -> DataFrame:
    """As-of join (beyond-reference): for each left row, the latest right
    row with right_ts <= left_ts (backward) per key.

    Union-window implementation — one shuffle on ``key``, no range
    explosion: tag both sides, sort by ts within key, carry the last
    right row forward with ``last(..., ignorenulls)`` over an unbounded
    preceding frame.  Scales as a single window over the union.

    ``right_order`` (r12): deterministic tie-break WITHOUT a pre-pass —
    when several right rows share (key, right_ts), the one carried is
    the LAST by these right-side columns ascending (e.g.
    ``right_order=["order_id"]`` keeps the max order_id per date).
    This replaces a caller-side ``groupBy(key, ts).agg(max(...))``
    pre-reduction: that aggregate pays a full extra exchange + hash
    build over the right table, and on near-unique (key, ts) grain it
    reduces almost nothing (q17b at sf10: 15.0M -> 14.96M rows for
    1.6 s of agg time) — the window the join already runs orders the
    tie for free.  Without ``right_order`` ties keep the previous
    contract (caller pre-reduces for determinism)."""
    if direction not in ("backward", "forward"):
        raise ValueError(direction)
    lcols = [c for c in left.columns]
    rcols = [c for c in right.columns if c != key]
    r_tagged = right.select(
        F.col(key),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*rcols).alias("__rpay"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}")
          for c in lcols if c != key],
    )
    l_tagged = left.select(
        F.col(key),
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(r_tagged.schema["__rpay"].dataType).alias("__rpay"),
        *[F.col(c).alias(f"__l_{c}") for c in lcols if c != key],
    )
    u = r_tagged.unionByName(l_tagged)
    # tie-break columns sort only the RIGHT rows (left rows carry NULL
    # payloads, and left/right never interleave at equal ts — __side
    # desc already puts every right row first); ascending order makes
    # the LAST right row of a (key, ts) tie — the one last() carries —
    # the max by right_order
    ties = [F.col("__rpay").getField(c).asc()
            for c in (right_order or [])]
    if direction == "backward":
        w = (Window.partitionBy(key).orderBy(F.col("__ts").asc(),
                                             F.col("__side").desc(),
                                             *ties)
             .rowsBetween(Window.unboundedPreceding, 0))
    else:
        w = (Window.partitionBy(key).orderBy(F.col("__ts").desc(),
                                             F.col("__side").desc(),
                                             *ties)
             .rowsBetween(Window.unboundedPreceding, 0))
    u = u.withColumn("__match", F.last("__rpay", ignorenulls=True).over(w))
    out = u.where(F.col("__side") == 0).select(
        F.col(key),
        *[F.col(f"__l_{c}").alias(c) for c in lcols if c != key],
        *[F.col("__match").getField(c).alias(c) for c in rcols],
    )
    return out


def salted_join(skewed: DataFrame, other: DataFrame, keys: Sequence[str],
                *, salt: int = 16, how: str = "inner") -> DataFrame:
    """Equi-join where ``skewed`` has hot keys that overload single
    reducers: the skewed side gets a random salt in [0, salt), the other
    side is replicated across every salt value, and the join runs on
    (keys + salt) — a hot key's rows spread over ``salt`` reducers.

    AQE's skew-join splitting usually makes this unnecessary; it remains
    the explicit tool for extreme single-key skew or non-AQE engines.
    Cost model: ``other`` is scanned/replicated ``salt`` times — use for
    dimension-sized right sides only.
    """
    keys = list(keys)
    s = skewed.withColumn("__salt",
                          (F.rand(42) * salt).cast("int"))
    r = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    return s.join(r, [*keys, "__salt"], how).drop("__salt")


# ------------------------------------------------------------- set ops

def union_all(*dfs: DataFrame) -> DataFrame:
    """Union All (PRO/Глава 05:79) — by name, no dedup."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def merge_sorted(left: DataFrame, right: DataFrame, *order_cols) -> DataFrame:
    """SSIS Merge (sorted union, PRO/Глава 05:95).  In Spark order is a
    property of the final sort, not a flow invariant — union then sort."""
    return left.unionByName(right).orderBy(*order_cols)


def intersect(left: DataFrame, right: DataFrame) -> DataFrame:
    return left.intersect(right)


def except_(left: DataFrame, right: DataFrame, all: bool = False) -> DataFrame:
    return left.exceptAll(right) if all else left.subtract(right)


# --------------------------------------------------- sort/top-k/sample

def sort(df: DataFrame, *cols) -> DataFrame:
    """Full sort (PRO/Глава 05:78) — range-partitioned total order."""
    return df.orderBy(*cols)


def top_k(df: DataFrame, k: int, *cols) -> DataFrame:
    """ORDER BY ... LIMIT k — Spark plans TakeOrderedAndProject: each
    partition keeps k rows, driver merges; no total sort at scale."""
    return df.orderBy(*cols).limit(k)


def sample(df: DataFrame, fraction: float | None = None,
           n: int | None = None, seed: int = 42) -> DataFrame:
    """Percentage / Row Sampling (PRO/Глава 15:52)."""
    if fraction is not None:
        return df.sample(fraction=fraction, seed=seed)
    if n is not None:
        return df.orderBy(F.rand(seed)).limit(n)
    raise ValueError("fraction or n required")


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict, seed: int = 42) -> DataFrame:
    """Per-stratum sampling rates (class-balanced training datasets:
    downsample the dominant class, keep the rare one).  ``fractions``
    maps stratum value -> keep probability; unlisted strata are
    dropped.  Bernoulli per row on the scan — no shuffle, no
    per-stratum job, works at any cardinality of rows (strata values
    must be few: the map ships in the plan)."""
    bad = {k: v for k, v in fractions.items() if not 0.0 <= v <= 1.0}
    if bad:
        raise ValueError(f"fractions outside [0,1]: {bad}")
    return df.sampleBy(strata_col, fractions=fractions, seed=seed)


def exact_stratified_sample(df: DataFrame, strata_col: str, k: int,
                            id_col: str, *,
                            salt: int = 2654435761) -> DataFrame:
    """EXACTLY-k-per-stratum deterministic sample — the reproducible
    twin of ``stratified_sample``: rate-based Bernoulli gives ±√n
    per-stratum counts and changes membership whenever the row order
    or seed plumbing changes; training-data curation wants "the same
    k documents per language, every run, on every engine".

    Rows are ranked within each stratum by a multiplicative Knuth
    hash of their id (``(id * salt) mod 2^32`` — plain 64-bit integer
    arithmetic, so ANY engine reproduces the identical membership:
    the same trick as ``curation.det_rate``) and the k smallest win.
    Adding rows never evicts more than it must; deleting a sampled
    row promotes exactly the next-ranked one (bounded churn — the
    growth-stable property ``curation.assign_split`` documents).

    Plan shape: one shuffle on ``strata_col`` for the ``limit_by``
    window.  At 100 TB prefer ids over wide rows downstream of this
    (project first); the window itself holds only a counter per
    stratum, no buffering.
    """
    h = F.pmod(F.col(id_col).cast("bigint") * F.lit(salt),
               F.lit(4294967296))
    return limit_by(df, [strata_col], [h.asc(), F.col(id_col).asc()], k)


# ------------------------------------------------------ pivot/unpivot

def pivot(df: DataFrame, group_cols: Sequence[str], pivot_col: str,
          values: Sequence, agg: Column) -> DataFrame:
    """Pivot (PRO/Глава 05:94).  Passing ``values`` explicitly skips the
    extra distinct-values job — required practice at scale."""
    return df.groupBy(*group_cols).pivot(pivot_col, list(values)).agg(agg)


def unpivot(df: DataFrame, ids: Sequence[str], cols: Sequence[str],
            var_name: str = "name", value_name: str = "value") -> DataFrame:
    """Unpivot via native melt (narrow op, no shuffle)."""
    return df.melt(ids=list(ids), values=list(cols),
                   variableColumnName=var_name, valueColumnName=value_name)


def weighted_sample(df: DataFrame, weight_col: str, k: int,
                    id_col: str, *, by: Sequence[str] | None = None,
                    salt: int = 2654435761) -> DataFrame:
    """Weighted sampling without replacement, deterministic: keep the
    k rows with the largest Efraimidis–Spirakis keys
    ``u^(1/w)`` (Efraimidis & Spirakis, "Weighted random sampling with
    a reservoir", IPL 2006 — the published one-pass algorithm), with
    the uniform draw ``u`` derived from a multiplicative hash of the
    row id instead of an RNG.  Inclusion probabilities follow the
    weights exactly as in the paper, yet every engine — and every
    rerun — selects the identical rows (the property that makes
    training-data mixes auditable; cf. ``curation.det_rate``).

    Equivalent ranking key: ``ln(u)/w`` descending (monotone transform
    of ``u^(1/w)``; IEEE doubles make it bit-identical across
    engines).  Rows with NULL or non-positive weight never win.
    ``by`` draws k per group instead of k global.

    Plan shape: one ``limit_by`` window — shuffled on ``by`` when
    grouped; the global form ranks via top-k (TakeOrdered), never a
    total sort.
    """
    u = (F.pmod(F.col(id_col).cast("bigint") * F.lit(salt),
                F.lit(4294967296)) + 1) / F.lit(4294967297.0)
    w = F.col(weight_col).cast("double")
    key = F.when(w > 0, F.log(u) / w)        # larger = more likely kept
    ranked = df.withColumn("__wk", key).where(F.col("__wk").isNotNull())
    if by:
        return limit_by(ranked, by, [F.col("__wk").desc(),
                                     F.col(id_col).asc()], k).drop("__wk")
    return (ranked.orderBy(F.col("__wk").desc(), F.col(id_col).asc())
            .limit(k).drop("__wk"))


def skyline(df: DataFrame, dims: "dict[str, str]", *,
            k_band: int = 1) -> DataFrame:
    """Skyline / Pareto-front operator (the EDBT 2023 "Integration of
    Skyline Queries into Spark SQL" capability, via the classic
    two-phase distributed algorithm): keep every row NOT dominated by
    another — row b dominates row a iff b is at-least-as-good on ALL
    skyline dims and strictly better on at least one.

    ``dims`` maps column -> 'min' | 'max' (the preference direction).
    Rows with a NULL in any skyline dim are excluded up front (NULL
    has no place in a dominance order; filter or impute upstream).

    Plan shape — why this is scale-safe: phase 1 computes each
    partition's LOCAL skyline (a row dominated locally is dominated
    globally, so pruning is safe); phase 2 re-runs the same kernel on
    the union of local skylines, which is small — skylines of
    d-dimensional data grow ~O(log^(d-1) n), the published 2-phase
    argument — so the single final task sees thousands of rows, not
    the corpus.  The kernel itself sorts by the dim-sum: a dominator's
    sum is strictly smaller (all dims <=, one <), so each row needs
    testing only against the ALREADY-ACCEPTED skyline prefix —
    O(n·|skyline|) vectorized numpy, never the n x n matrix.

    ``k_band`` generalizes to the k-SKYBAND (rows dominated by FEWER
    than ``k_band`` others; 1 = the skyline).  Counting dominators
    against the accepted set only is exact by the standard skyband
    lemma — a row outside the k-skyband has >= k dominators INSIDE it
    (well-founded induction on the dominance order), so a row with
    < k accepted dominators has no others; the same lemma makes the
    two-phase local pruning safe for any k.

    The skyline/skyband SET is algorithm-independent (pure dominance
    semantics), so a brute-force NOT EXISTS / dominator-count oracle
    certifies it value-for-value.

    Precision contract: the kernel compares dims as float64.  Values
    exactly representable in float64 (all doubles/floats, ints up to
    2^53, decimals within 15 significant digits) compare exactly;
    int64 beyond 2^53 or higher-precision decimals round to the
    nearest float64 first, so two values closer than one ulp compare
    EQUAL and dominance at that resolution is decided on the rounded
    grid (the lexsort tie-break keeps the decision consistent, not
    exact).  Rescale or truncate such columns upstream if sub-ulp
    distinctions must count.
    """
    if not dims:
        raise ValueError("skyline: need at least one dimension")
    bad = {c: d for c, d in dims.items() if d not in ("min", "max")}
    if bad:
        raise ValueError(f"skyline: directions must be min/max: {bad}")
    if k_band < 1:
        raise ValueError("skyline: k_band must be >= 1")
    cols = list(dims)
    clean = df.na.drop(subset=cols)

    def kernel(pdf):
        import numpy as np
        if not len(pdf):
            return pdf
        # normalize to all-min: negate max dims
        m = np.column_stack([
            (-pdf[c].to_numpy(dtype="float64") if dims[c] == "max"
             else pdf[c].to_numpy(dtype="float64")) for c in cols])
        # sort by dim-sum, tie-broken LEXICOGRAPHICALLY by the dims: a
        # dominator's exact sum is strictly smaller, but float64
        # rounding can TIE the two sums (e.g. around 2^53) and a
        # stable sum-only sort could then place the dominated row
        # first and wrongly accept it.  Under a sum tie a dominator is
        # lexicographically smaller (all dims <=, one <), so this
        # order provably puts every dominator before what it
        # dominates.  np.lexsort: last key is primary.
        order = np.lexsort(
            tuple(m[:, d] for d in reversed(range(m.shape[1])))
            + (m.sum(axis=1),))
        m = m[order]
        keep_idx: list[int] = []
        sky = np.empty((0, m.shape[1]))
        for i in range(len(m)):
            r = m[i]
            if len(keep_idx):
                le = (sky <= r).all(axis=1)
                lt = (sky < r).any(axis=1)
                # dominator count among ACCEPTED rows is the true
                # count for any row still below k (skyband lemma);
                # equal rows never strictly dominate — both kept
                if int((le & lt).sum()) >= k_band:
                    continue
            keep_idx.append(i)
            sky = np.vstack([sky, r])
        return pdf.iloc[order[keep_idx]]

    local = clean.mapInPandas(lambda it: map(kernel, it),
                              schema=clean.schema)
    # phase 2: one task over the union of local skylines (small by
    # the O(log^(d-1) n) argument); repartition(1) keeps it lazy —
    # no driver collect
    return (local.repartition(1)
            .mapInPandas(lambda it: _skyline_merge(it, kernel),
                         schema=clean.schema))


def _skyline_merge(batches, kernel):
    import pandas as pd
    parts = [b for b in batches if len(b)]
    if not parts:          # empty input / all rows NULL-dropped:
        return             # empty skyline, not a pd.concat([]) crash
    pdf = pd.concat(parts, ignore_index=True)
    yield kernel(pdf)
