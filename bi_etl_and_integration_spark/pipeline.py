"""Pipeline runner — the Control Flow analog (SURVEY.md §2.11, §3.1).

Reference parity:
  - SSIS Control Flow precedence constraints (Success/Failure/Completion
    + expressions, PRO/Глава 17:25-40) -> stage dependency DAG with
    ``run_on`` conditions.
  - retries / idempotent tasks (AF/001 Intro.md:70, AF/002 Plan.md:94-98)
    -> per-stage ``retries``.
  - per-component timing (PRACT/007 Vizualizer.md) -> stage metrics dict.
  - checkpoint/restart: only PHASE boundaries are resumable, never
    intra-flow progress (PRACT/004 CDC.md:552-555) -> ``resume_from`` +
    ``checkpointed_write`` (atomic temp-dir swap).
  - multicast persistence (PRO/Глава 07:76-80) -> a stage that fans a
    frame out caches it with ``operators.common.cached`` inside its own
    ``cache_scope()`` (the runner does not persist on its own; stages
    run with ``max_parallel > 1`` are on other threads, which do not
    see the caller's scope).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Stage:
    name: str
    fn: Callable[["Context"], object]
    depends_on: Sequence[str] = ()
    retries: int = 0
    run_on: str = "success"           # success | failure | completion


@dataclass
class Context:
    """Pipeline variables (the SSIS ``Dts.Variables`` analog)."""
    spark: SparkSession
    params: dict = field(default_factory=dict)
    results: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)

    def __getitem__(self, k):
        return self.results[k] if k in self.results else self.params[k]

    def __setitem__(self, k, v):
        self.results[k] = v


class Pipeline:
    def __init__(self, name: str):
        self.name = name
        self.stages: list[Stage] = []

    def stage(self, name: str, depends_on: Sequence[str] = (),
              retries: int = 0, run_on: str = "success"):
        """Decorator registering a stage function ``fn(ctx) -> result``."""
        def deco(fn):
            self.stages.append(Stage(name, fn, depends_on, retries, run_on))
            return fn
        return deco

    def _ordered(self) -> list[Stage]:
        """Stable topological order: every stage runs after its
        dependencies regardless of declaration order (a failure
        handler declared BEFORE the stage it handles would otherwise
        be visited too early, silently never running while still
        suppressing the error).  Declaration order is preserved among
        stages whose dependencies are satisfied."""
        by_name = {s.name: s for s in self.stages}
        done: set[str] = set()
        out: list[Stage] = []
        pending = list(self.stages)
        while pending:
            progressed = False
            for s in list(pending):
                if all(d in done for d in s.depends_on if d in by_name):
                    out.append(s)
                    done.add(s.name)
                    pending.remove(s)
                    progressed = True
            if not progressed:
                cycle = [s.name for s in pending]
                raise ValueError(f"dependency cycle among stages: {cycle}")
        return out

    def _execute(self, st: Stage, ctx: Context,
                 status: dict) -> Exception | None:
        """Run one stage with retries; fill results/metrics/status.
        Returns the terminal error (after retries) or None."""
        t0 = time.monotonic()
        attempt, err = 0, None
        while attempt <= st.retries:
            try:
                ctx.results[st.name] = st.fn(ctx)
                status[st.name] = "ok"
                err = None
                break
            except Exception as e:          # noqa: BLE001 — retry boundary
                err = e
                attempt += 1
        if err is not None:
            status[st.name] = "failed"
        ctx.metrics[st.name] = {"seconds": time.monotonic() - t0,
                                "attempts": attempt + (err is None),
                                "status": status[st.name]}
        if err is not None:
            # keep the cause inspectable after run() returns — a
            # failure absorbed by a run_on='failure' handler would
            # otherwise be reduced to a bare 'failed' status
            ctx.metrics[st.name]["error"] = repr(err)
        return err

    def _decide(self, st: Stage, status: dict) -> str | None:
        """Precedence-constraint decision for a stage whose deps are all
        terminal: 'run', 'not_run', or None (deps not yet terminal)."""
        dep_states = [status.get(d, "missing") for d in st.depends_on]
        if any(s in ("missing", "running") for s in dep_states):
            return None
        ok_deps = all(s in ("ok", "skipped") for s in dep_states)
        failed_deps = any(s == "failed" for s in dep_states)
        should_run = (
            (st.run_on == "success" and ok_deps) or
            (st.run_on == "failure" and failed_deps) or
            (st.run_on == "completion" and True))
        return "run" if (not st.depends_on or should_run) else "not_run"

    def _has_failure_handler(self, name: str) -> bool:
        return any(s.run_on == "failure" and name in s.depends_on
                   for s in self.stages)

    def run(self, spark: SparkSession, params: dict | None = None,
            resume_from: str | None = None,
            max_parallel: int = 1) -> Context:
        """Execute stages honoring dependencies.

        ``resume_from`` skips stages before the named one (phase-level
        restart — the only resumability the reference endorses; skipped
        stages must be idempotent producers whose outputs the resumed
        stages re-read from storage).

        ``max_parallel > 1`` runs independent stages concurrently on a
        thread pool — the reference's export pattern is exactly this
        (``parallel -j 4`` over per-table dumps, SCRIPTS/Перелив данных
        из PostgreSQL в ClickHouse.md:251) and SSIS control flow runs
        unconstrained tasks concurrently (MaxConcurrentExecutables).
        The SparkSession is thread-safe and the scheduler interleaves
        the submitted jobs across executor slots; stage functions
        sharing driver-side state must synchronize it themselves.
        Failure semantics match serial mode: a failed stage without a
        failure-handler dependant aborts the pipeline (after in-flight
        stages drain), handlers with ``run_on='failure'`` fire, and
        downstream ``run_on='success'`` stages are marked ``not_run``.
        """
        names = [s.name for s in self.stages]
        if resume_from is not None and resume_from not in names:
            raise ValueError(f"resume_from {resume_from!r} matches no "
                             f"stage; stages: {names}")
        unknown = {d for s in self.stages for d in s.depends_on
                   if d not in names}
        if unknown:
            raise ValueError(f"depends_on references unknown stages: "
                             f"{sorted(unknown)}")
        ctx = Context(spark, dict(params or {}))
        status: dict[str, str] = {}
        ordered = self._ordered()
        if resume_from is not None:
            for st in ordered:
                if st.name == resume_from:
                    break
                status[st.name] = "skipped"
        todo = [st for st in ordered if st.name not in status]

        if max_parallel <= 1:
            first_err: Exception | None = None
            for st in todo:
                decision = self._decide(st, status)
                if decision == "not_run":
                    status[st.name] = "not_run"
                    continue
                err = self._execute(st, ctx, status)
                if err is not None and not self._has_failure_handler(st.name):
                    raise err
            ctx.metrics["__status"] = status
            return ctx

        from concurrent.futures import (FIRST_COMPLETED, ThreadPoolExecutor,
                                        wait)
        first_err: Exception | None = None
        with ThreadPoolExecutor(max_workers=max_parallel) as pool:
            running: dict = {}
            while todo or running:
                progressed = False
                for st in list(todo):
                    decision = self._decide(st, status)
                    if decision == "not_run":
                        status[st.name] = "not_run"
                        todo.remove(st)
                        progressed = True
                    elif decision == "run" and first_err is None:
                        status[st.name] = "running"
                        todo.remove(st)
                        running[pool.submit(
                            self._execute, st, ctx, status)] = st
                        progressed = True
                if not running:
                    if first_err is not None:
                        break
                    if not progressed and todo:
                        # only reachable if _ordered missed a cycle
                        raise RuntimeError(
                            f"stalled stages: {[s.name for s in todo]}")
                    continue
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    st = running.pop(fut)
                    err = fut.result()
                    if (err is not None and first_err is None
                            and not self._has_failure_handler(st.name)):
                        first_err = err
            for st in todo:                 # drained early on failure
                status.setdefault(st.name, "not_run")
        ctx.metrics["__status"] = status
        if first_err is not None:
            raise first_err
        return ctx


def from_spec(spec: Mapping) -> Pipeline:
    """Build a pipeline from a declarative spec (the DTExec / external
    drive surface, PRO/Глава 20:24-33; Глава 21:8-16): packages are data
    loaded and parametrized programmatically.  Spec shape:

        {"name": "p", "stages": [
            {"name": "load",  "read": {"format": "parquet", "path": "..."}},
            {"name": "tax",   "component": "add_tax", "params": {"rate": 0.2},
             "input": "load", "depends_on": ["load"]},
            {"name": "sql",   "sql": "SELECT ... FROM {load}"},
            {"name": "out",   "write": {"path": "...", "format": "parquet"},
             "input": "tax", "depends_on": ["tax"]}]}

    Stage kinds: ``read`` (DataFrameReader options), ``component``
    (registered PipelineComponent by name), ``sql`` (text with
    ``{stage}`` placeholders resolved to temp views), ``write``
    (atomic checkpointed publish).  JSON/YAML-parsed dicts both work —
    the spec is plain data, editable without touching engine code.
    """
    import re as _re

    from bi_etl_and_integration_spark.operators.plugin import component

    p = Pipeline(spec.get("name", "pipeline"))
    for st in spec["stages"]:
        name = st["name"]
        depends = tuple(st.get("depends_on", ()))

        if "read" in st:
            def fn(ctx, _c=dict(st["read"])):
                c = dict(_c)
                fmt, path = c.pop("format", "parquet"), c.pop("path")
                r = ctx.spark.read.format(fmt)
                for k, v in c.items():
                    r = r.option(k, v)
                return r.load(path)
        elif "component" in st:
            def fn(ctx, _n=st["component"], _p=dict(st.get("params", {})),
                   _in=st["input"]):
                return component(_n, **_p)(ctx[_in])
        elif "sql" in st:
            def fn(ctx, _q=st["sql"]):
                def view(m):
                    stage = m.group(1)
                    vname = f"__stage_{stage}"
                    ctx[stage].createOrReplaceTempView(vname)
                    return vname
                return ctx.spark.sql(_re.sub(r"\{(\w+)\}", view, _q))
        elif "write" in st:
            def fn(ctx, _c=dict(st["write"]), _in=st["input"]):
                if _c.get("format") == "snapshot":
                    # transactional manifest commit (multi-writer-safe
                    # where exclusive create is atomic) instead of the
                    # single-writer dir swap
                    from bi_etl_and_integration_spark.sources.snapshots \
                        import snapshot_write
                    return snapshot_write(
                        ctx.spark, ctx[_in], _c["path"],
                        mode=_c.get("mode", "overwrite"))
                return checkpointed_write(ctx[_in], _c["path"],
                                          fmt=_c.get("format", "parquet"))
        else:
            raise ValueError(f"stage {name!r}: no read/component/sql/write")
        p.stage(name, depends_on=depends,
                retries=int(st.get("retries", 0)),
                run_on=st.get("run_on", "success"))(fn)
    return p


def recover_publish(path: str) -> bool:
    """Heal a crash inside ``checkpointed_write``'s swap window: if the
    published path is missing but a ``__old_`` backup exists, restore
    the newest backup.  Returns True if a restore happened.  Called
    automatically by ``checkpointed_write``; readers that must survive
    a concurrent publisher crash can call it before reading."""
    if os.path.exists(path):
        return False
    import glob
    # glob.escape: a publish path containing [ ? * must match itself
    # literally or the backup is never found and the heal silently noops
    backups = sorted(glob.glob(glob.escape(path) + "__old_*"),
                     key=os.path.getmtime)
    if not backups:
        return False
    os.replace(backups[-1], path)
    return True


def checkpointed_write(df: DataFrame, path: str, *,
                       fmt: str = "parquet") -> str:
    """Crash-safe publish: write to a temp dir, then swap into place
    (single-writer assumption — documented; a lakehouse format replaces
    this on shared storage).  A partial write is never visible.  POSIX
    has no atomic DIRECTORY swap, so between the two renames there is a
    sub-millisecond window where ``path`` is absent; a crash inside
    that window is healed by :func:`recover_publish` (run automatically
    on the next publish), and the ``__old_`` backup is only deleted
    after the new version is in place."""
    recover_publish(path)
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    getattr(df.write.mode("overwrite"), fmt)(tmp)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return path


def backfill(pipeline: Pipeline, spark: SparkSession, *,
             start, end, state_dir: str, grain: str = "day",
             params: Mapping | None = None,
             stop_on_failure: bool = True) -> list[dict]:
    """Airflow-style scheduled catch-up (AF/002 Plan.md's
    schedule_interval + catchup semantics, absorbed engine-side): run
    ``pipeline`` once per period over ``[start, end)``, oldest first,
    passing each run ``period_start``/``period_end`` params — the
    interval-bounded incremental-load contract every period-partitioned
    stage reads.

    Idempotent catch-up: a zero-byte completion marker per period in
    ``state_dir`` (created O_EXCL AFTER the run succeeds — the same
    commit-after-apply discipline as the CDC state store) makes reruns
    skip finished periods, so a crashed backfill resumes where it died
    and a nightly catchup after downtime replays exactly the missed
    periods.  Period stages themselves must be idempotent writers
    (``checkpointed_write`` / snapshot commits), which is also what
    makes a CLEARED marker a safe Airflow-style re-run.

    Sequential oldest-first by design (Airflow depends_on_past): a
    period may read state its predecessor published.  Returns one
    ``{"period_start", "period_end", "status"[, "error"]}`` dict per
    period (status: ran | ran_partial | skipped | failed).  A period
    truncated by ``end`` (intraday catch-up) runs but is NOT marked
    complete — the next backfill re-runs the whole period over the
    idempotent writers, picking up the remainder.  A stage failure
    absorbed by a ``run_on='failure'`` handler still fails the
    period: handled-for-alerting is not loaded.
    """
    import datetime as dt
    os.makedirs(state_dir, exist_ok=True)
    step = {"day": dt.timedelta(days=1), "hour": dt.timedelta(hours=1),
            "week": dt.timedelta(weeks=1)}.get(grain)
    if step is None:
        raise ValueError(f"backfill: unknown grain {grain!r}")
    if isinstance(start, str):
        start = dt.datetime.fromisoformat(start)
    if isinstance(end, str):
        end = dt.datetime.fromisoformat(end)
    if start >= end:
        raise ValueError("backfill: start must be before end")
    out: list[dict] = []
    cur = start
    while cur < end:
        nxt = min(cur + step, end)
        tag = cur.strftime("%Y%m%dT%H%M%S")
        marker = os.path.join(state_dir, f"_done_{grain}_{tag}")
        row = {"period_start": cur.isoformat(),
               "period_end": nxt.isoformat()}
        if os.path.exists(marker):
            row["status"] = "skipped"
        else:
            p = dict(params or {})
            p.update(period_start=cur.isoformat(),
                     period_end=nxt.isoformat())
            try:
                ctx = pipeline.run(spark, params=p)
                # run() swallows a stage failure when a
                # run_on='failure' handler exists (the handler "took"
                # it) — but for CATCH-UP accounting a handled failure
                # is still an unloaded period; marking it done would
                # silently drop its data forever
                status = ctx.metrics.get("__status", {})
                bad = [s for s, v in status.items() if v == "failed"]
                if bad:
                    causes = {s: ctx.metrics.get(s, {}).get("error")
                              for s in bad}
                    raise RuntimeError(
                        f"stage(s) failed (handler ran): {causes}")
            except Exception as e:
                row["status"] = "failed"
                # keep the cause — a 30-day catch-up that reports one
                # bare 'failed' row is undiagnosable
                row["error"] = repr(e)
                out.append(row)
                if stop_on_failure:
                    return out
                cur = nxt
                continue
            if nxt == cur + step:
                # marker only after success AND only for a COMPLETE
                # period: a range-truncated final period (end mid-day
                # during an intraday catch-up) must be re-run by the
                # next backfill that can see the rest of it — period
                # stages are idempotent overwriters, so the re-run
                # replaces the partial load.  O_EXCL so two
                # concurrent backfills cannot both claim a period
                # up-front; if a concurrent backfill won the marker
                # AFTER this one already ran the period, both ran it
                # (idempotently) — record it, don't crash the loop.
                try:
                    fd = os.open(marker,
                                 os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.close(fd)
                except FileExistsError:
                    pass
                row["status"] = "ran"
            else:
                row["status"] = "ran_partial"
        out.append(row)
        cur = nxt
    return out
