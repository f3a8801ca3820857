#!/usr/bin/env python
"""Bench harness: runs the declared query corpus at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {...}, "sf": ...}

Per BASELINE.md the gate is wall time ≤ 2x DuckDB on the same SF with a
warm JVM (session startup excluded) — so the session is created and a
warm-up query runs before any timing starts.  Set BENCH_DUCKDB=1 to
also measure the DuckDB oracle side-by-side (adds a "duckdb" map and
per-query ratios to stderr for local tuning).
"""

from __future__ import annotations

import json
import os
import sys
import time

# Dispersion/regression gates (see the methodology note in main()):
# a row whose timed samples disagree by more than SPREAD_GATE, or whose
# best sample is more than REGRESS_GATE above the last committed value,
# is re-measured with EXTRA_RUNS more samples.  Walls under SPREAD_FLOOR
# seconds are exempt from the spread gate (codegen/scheduling jitter
# dominates there: a 0.25 s query reading 0.25/0.32 s is not drift).
SPREAD_GATE = 0.20
REGRESS_GATE = 0.25
EXTRA_RUNS = 2
SPREAD_FLOOR = 0.4


def normalized_regressions(times: dict, prev_times: dict, spread: dict,
                           *, spread_gate: float, regress_gate: float,
                           spread_floor: float) -> tuple[dict, float]:
    """Window-normalized regressed-vs-committed flags (VERDICT r10
    item 4: the raw per-query compare flagged 91/180 rows in a
    loadavg-2.3 window — it measured the WINDOW, not the plans).

    The whole window shares one co-tenant pressure level, so uniform
    inflation shows up as a common factor across the stable rows.
    Calibration = median(current/committed) over rows whose samples
    agree (spread ≤ gate, or sub-floor walls where spread is jitter);
    a row is flagged only if it exceeds the regress gate AFTER
    dividing out that factor — a real single-query plan regression
    sticks out of the window's common mode and survives; uniform
    inflation does not.  The median is robust: a handful of genuine
    regressions cannot drag the calibration itself.  Fewer than 5
    comparable stable rows → calibration 1.0 (raw gate).

    Returns ({query: [committed, current, calibration]}, calibration).
    """
    import statistics
    ratios = [t / prev_times[q] for q, t in times.items()
              if q in prev_times and t > 0 and prev_times[q] > 0
              and (t < spread_floor or spread.get(q, 0.0) <= spread_gate)]
    cal = statistics.median(ratios) if len(ratios) >= 5 else 1.0
    flagged = {}
    for q, t in times.items():
        if (q in prev_times and t > 0 and prev_times[q] > 0
                and t > (1 + regress_gate) * cal * prev_times[q]):
            flagged[q] = [prev_times[q], round(t, 3), round(cal, 3)]
    return flagged, cal


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    with_duck = os.environ.get("BENCH_DUCKDB") == "1"
    only = set(sys.argv[1:])

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod
    from bi_etl_and_integration_spark import get_session

    # the UI REST API is the (public) source for per-query shuffle and
    # spill bytes; it is off by default for tests, on for bench
    os.environ.setdefault("SPARK_GRAFT_UI", "true")

    # GC orphaned staging dirs (bf_*/bk_* bucketed-fact tables) left by
    # dead sessions: staged names are per-session (queries._stage_suffix
    # embeds the app id), so a NEW session can never reuse them and they
    # are pure scratch — 1.3 GB per sf10 session if left to pile up.
    # The bench owns its measurement window (single-tenant by contract),
    # and the 1-hour age guard keeps a concurrently-running pytest
    # session's freshly staged tables safe even if that contract slips.
    import shutil
    wh = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "spark-warehouse")
    if os.path.isdir(wh):
        for d in os.listdir(wh):
            p = os.path.join(wh, d)
            if ((d.startswith("bf_") or d.startswith("bk_"))
                    and os.path.isdir(p)
                    and time.time() - os.path.getmtime(p) > 3600):
                shutil.rmtree(p, ignore_errors=True)

    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = entrymod.queries()
    # warm-up: JIT/codegen + parquet footer caches, excluded from timing
    queries["q18_hash_aggregate"](spark, sf_dir).collect()
    # build ALL session-staged bucketed tables up front + settle: the
    # staging is one-time at-rest infrastructure (SCALE.md documents
    # the build costs); letting the first measured query's warm-up pay
    # the build leaves GC/page-cache residue that contaminates its
    # samples (r11: q14 at sf10 read 0.9-2.4 s depending on the
    # residue, ~1.0 s repeatable once settled)
    from bi_etl_and_integration_spark.operators.common import cache_scope
    from bi_etl_and_integration_spark.queries import prepare_session
    prepare_session(spark, sf_dir)

    from pyspark.sql import functions as F

    def consume(df) -> None:
        """Force full evaluation of every output column without paying
        py4j row serialization: reduce to (count, xxhash64 digest) —
        the engine computes everything, one row crosses to Python."""
        cols = [F.col(c) for c in df.columns]
        # bit_xor (not sum): xxhash64 values span the full int64 range, so
        # summing them overflows under ANSI mode; xor is overflow-free.
        df.select(F.count(F.lit(1)).alias("n"),
                  F.bit_xor(F.xxhash64(*cols)).alias("digest")).collect()

    # Per-query shuffle and spill bytes of the first timed run, summed
    # over the stages of its job group: the scale signal — a query whose
    # shuffle grows linearly with input is the one that breaks first on
    # a 1000-executor 100 TB run, and ANY disk spill is the Spark analog
    # of the reference's "Buffers spooled > 0 = bad" (PRO/Глава
    # 15:85-88) — a partition outgrew exec memory and the same plan at
    # 100 TB needs more partitions or a skew fix.  Attribution is by
    # stage id, so a reading is never negative.
    from perfbench.layers import Probe
    probe = Probe(spark)
    sc = spark.sparkContext

    # Methodology (matches BASELINE.md "warm JVM, session startup
    # excluded"): each query runs once untimed — paying its one-time
    # whole-stage-codegen compile + JIT, which is session startup cost,
    # not plan cost — and the SECOND run is measured.  Rankings then
    # reflect plan shape instead of which query happened to touch a
    # codegen pattern first.
    n_runs = max(1, int(os.environ.get("BENCH_RUNS", "2")))
    # Dispersion gate (VERDICT r8 item 1 — the r7 loadavg gate at
    # 1.5x ncpus could never fire on this host: every drifted row
    # measured at loadavg 1.6-5.5 while the number moved 20%+).
    # Drift is detected on the signals that actually move:
    #   (a) per-query SPREAD of the timed samples, (max-min)/min —
    #       a quiet plan repeats within ~10%; co-tenant pressure
    #       makes samples disagree;
    #   (b) regression vs the LAST COMMITTED value for the same query
    #       in the detail sidecar being refreshed (>25% above it).
    # A row tripping either gate is AUTOMATICALLY re-measured with
    # EXTRA_RUNS more samples (min-of-all is kept — the min tracks
    # plan cost, noise only ever inflates); rows still over the gate
    # after re-measurement are listed in the output so a committed
    # artifact can never silently carry a drifted sample.
    prev_times: dict[str, float] = {}
    prev_path = os.environ.get("BENCH_DETAIL_PATH") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    try:
        with open(prev_path) as fh:
            prev = json.load(fh)
        if prev.get("sf") == (float(sf) if sf.replace(".", "").isdigit()
                              else sf):
            prev_times = {k: v for k, v in prev.get("queries", {}).items()
                          if isinstance(v, (int, float)) and v > 0}
    except (OSError, ValueError):
        pass
    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    shuffle_mb: dict[str, float] = {}
    spill_mb: dict[str, float] = {}
    loadavg: dict[str, float] = {}
    dispersion_flagged: list[str] = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        with cache_scope():
            try:
                consume(fn(spark, sf_dir))          # warm: codegen + JIT
                load0 = os.getloadavg()[0]
                samples: list[float] = []
                sc.setJobGroup(f"bench.{name}", name)
                t0 = time.monotonic()
                consume(fn(spark, sf_dir))          # measured (1st)
                samples.append(time.monotonic() - t0)
                sc._jsc.clearJobGroup()  # noqa: SLF001
                for _ in range(n_runs - 1):
                    load0 = min(load0, os.getloadavg()[0])
                    t0 = time.monotonic()
                    consume(fn(spark, sf_dir))      # measured (2nd..nth)
                    samples.append(time.monotonic() - t0)

                def _over(ss: list[float]) -> bool:
                    # RAW compare here, by design: this only triggers
                    # extra samples (cheap insurance).  The FINAL flag
                    # list is window-normalized post-hoc
                    # (normalized_regressions).
                    best = min(ss)
                    sp = (max(ss) - best) / best if best > 0 else 0.0
                    over_spread = (best >= SPREAD_FLOOR
                                   and sp > SPREAD_GATE)
                    over_prev = (name in prev_times and best >
                                 (1 + REGRESS_GATE) * prev_times[name])
                    return over_spread or over_prev

                if _over(samples):                  # drift suspected:
                    for _ in range(EXTRA_RUNS):     # re-measure, keep min
                        load0 = min(load0, os.getloadavg()[0])
                        t0 = time.monotonic()
                        consume(fn(spark, sf_dir))
                        samples.append(time.monotonic() - t0)
                best = min(samples)
                # min of n steady-state runs: co-tenant load on this
                # host inflates single samples ±30%; the min tracks plan
                # cost
                times[name] = round(best, 3)
                # final spread over the n_runs SMALLEST samples: noise
                # only inflates, so agreement among the best samples is
                # what makes the min trustworthy — one drifted early
                # sample that the re-measurement contradicted should not
                # keep the row flagged, while a row whose best samples
                # still disagree > gate is genuinely unstable
                ss = sorted(samples)[:max(2, n_runs)]
                spread[name] = round((ss[-1] - ss[0]) / ss[0], 3) \
                    if ss[0] > 0 else 0.0
                loadavg[name] = round(load0, 1)
                if best >= SPREAD_FLOOR and spread[name] > SPREAD_GATE:
                    dispersion_flagged.append(name)
                try:
                    shuffle, spill = probe.stage_bytes(
                        probe.group(f"bench.{name}")["stages"])
                    shuffle_mb[name] = round(shuffle / 1e6, 2)
                    if spill:  # only flag offenders
                        spill_mb[name] = round(spill / 1e6, 2)
                except Exception:  # noqa: BLE001 — UI off/slow: skip
                    pass
            except Exception as e:  # noqa: BLE001 — record, keep going
                times[name] = -1.0
                print(f"bench error {name}: {type(e).__name__}: "
                      f"{str(e)[:200]}", file=sys.stderr)

    # Streaming twins run real checkpointed micro-batch jobs; their
    # wall time is the streaming-runtime floor, not plan cost.  They
    # are timed and reported, but under a separate total so the batch
    # corpus number stays round-over-round comparable.
    from bi_etl_and_integration_spark.queries import STREAMING_QUERIES
    # window-normalized regression flags: computed over the FULL window
    # so uniform co-tenant inflation divides out (VERDICT r10 item 4)
    regressed, window_cal = normalized_regressions(
        times, prev_times, spread, spread_gate=SPREAD_GATE,
        regress_gate=REGRESS_GATE, spread_floor=SPREAD_FLOOR)
    batch_s = round(sum(t for n, t in times.items()
                        if t >= 0 and n not in STREAMING_QUERIES), 3)
    streaming_s = round(sum(t for n, t in times.items()
                            if t >= 0 and n in STREAMING_QUERIES), 3)
    out = {
        "metric": "declared-corpus BATCH wall time, warm session, "
                  "spark local[*] (SURVEY §2.12 + extras; steady-state: "
                  "min of two timed runs after warm-up; streaming twins "
                  "reported separately under streaming_s)",
        "value": batch_s,
        "unit": "sec",
        "streaming_s": streaming_s,
        "streaming_queries": sorted(n for n in times
                                    if n in STREAMING_QUERIES),
        "queries": times,
        "spread": spread,
        "shuffle_mb": shuffle_mb,
        "spill_mb": spill_mb,
        "loadavg": loadavg,
        "spread_gate": SPREAD_GATE,
        "regress_gate": REGRESS_GATE,
        # rows whose samples still disagree > SPREAD_GATE after the
        # automatic re-measurement — a committed artifact carrying one
        # of these is carrying a drifted sample, re-run before commit
        "dispersion_flagged": sorted(dispersion_flagged),
        # rows whose min exceeds the last committed value by
        # > REGRESS_GATE AFTER dividing out the window calibration
        # factor (median current/committed over stable rows):
        # [committed, now, calibration] — a genuinely per-query plan
        # regression, not uniform window inflation; deserves eyes
        # before the sidecar is refreshed
        "regressed_vs_committed": {k: regressed[k]
                                   for k in sorted(regressed)},
        "window_calibration": round(window_cal, 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    prev_total = round(sum(v for k, v in prev_times.items()
                           if k in times), 3)
    # like-for-like: sum the CURRENT run over the same intersection —
    # newly added queries must not fire the drift warning (ADVICE r9)
    cur_total = round(sum(v for k, v in times.items()
                          if k in prev_times), 3)
    if prev_total and cur_total > 1.15 * prev_total:
        # never overwrite a quiet committed run with a noisier
        # same-code run without saying so (VERDICT r8 item 1)
        print(f"bench WARNING: total {cur_total:.1f}s over the "
              f"committed sidecar's query set is >15% above its "
              f"{prev_total:.1f}s — if no plans changed, this run "
              f"is drifted; re-run at quiet load instead of committing",
              file=sys.stderr)

    if with_duck:
        import duckdb
        oracles = entrymod.oracle_sql()
        con = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        duck: dict[str, float] = {}
        for name, sql in oracles.items():
            if only and name not in only:
                continue
            # same consume shape as the Spark side: engine-side full
            # evaluation reduced to (count, row-hash digest) — a bare
            # fetchall() would bill DuckDB for Python tuple
            # materialization Spark never pays
            wrapped = (f"SELECT count(*) AS n, bit_xor(hash(t)) AS digest "
                       f"FROM ({sql}) t")
            try:
                # symmetric methodology: DuckDB gets the same warm-up +
                # min-of-n treatment as Spark — a single co-tenant-noise
                # sample on either side would corrupt the ratio.  A
                # query whose FIRST run exceeds 5 s keeps that single
                # sample (noise is ±30%, not 3×; repeating a 465 s
                # theta-join to shave noise would dominate the bench).
                t0 = time.monotonic()
                con.execute(wrapped).fetchall()          # warm / probe
                first = time.monotonic() - t0
                if first > 5.0:
                    duck[name] = round(first, 3)
                else:
                    best = None
                    for _ in range(n_runs):
                        t0 = time.monotonic()
                        con.execute(wrapped).fetchall()
                        dt = time.monotonic() - t0
                        best = dt if best is None else min(best, dt)
                    duck[name] = round(best, 3)
            except Exception:  # noqa: BLE001
                duck[name] = -1.0
        out["duckdb"] = duck
        for name in sorted(duck):
            s, d = times.get(name, -1), duck[name]
            if s > 0 and d > 0:
                flag = " <<<" if s > 2 * d and s > 0.5 else ""
                print(f"{name}: spark={s:.2f}s duck={d:.2f}s "
                      f"ratio={s / d:.1f}{flag}", file=sys.stderr)

    spark.stop()

    # The driver captures a bounded tail of stdout (round-1 BENCH json
    # came back "parsed": null because the 116-query detail line blew
    # past that window).  Contract: the FINAL stdout line is a compact
    # parseable summary; the full per-query detail goes to a sidecar
    # file next to this script (BENCH_DETAIL.json) and to stderr.
    detail_path = os.environ.get("BENCH_DETAIL_PATH")
    if detail_path is None and not only:
        # only a FULL run may refresh the committed corpus sidecar —
        # a filtered tuning run must not clobber it (update_baseline.py
        # regenerates BASELINE.md table 3 from this file)
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    if detail_path:
        try:
            with open(detail_path, "w") as fh:
                json.dump(out, fh, indent=1, sort_keys=True)
        except OSError as e:
            print(f"bench: could not write {detail_path}: {e}",
                  file=sys.stderr)
    print(json.dumps(out), file=sys.stderr)

    summary = {
        "metric": "declared-corpus BATCH wall time, warm session "
                  "(streaming twins under streaming_s; detail: "
                  "BENCH_DETAIL.json)",
        "value": out["value"],
        "unit": "sec",
        "streaming_s": streaming_s,
        # per-query map restored to the printed contract (VERDICT r11
        # item 2: the driver's PERF needs {name: best_sec} to compute
        # per-query speedups, geomean and the 32-vs-8-core scaling
        # block; rounds 7-11 carried it only in the detail sidecar).
        # Additions-only: every other summary field is unchanged, and
        # the same values still go to BENCH_DETAIL.json.
        "queries": times,
        "sf": out["sf"],
        "n_queries": len(times),
        "n_errors": sum(1 for t in times.values() if t < 0),
        "spill_mb_total": round(sum(spill_mb.values()), 2),
        # co-tenant load context: totals on this host swing ±30% with
        # machine load; compare rounds via per-query ratios, not totals.
        # Per-query spread + the over-gate lists live in the detail
        # sidecar (VERDICT r8 item 1) so drift is attributable per row.
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "n_dispersion_flagged": len(dispersion_flagged),
        "n_regressed_vs_committed": len(regressed),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
