"""Unit tests: pipeline runner (SURVEY.md §2.11, §3.1)."""

from __future__ import annotations

import pytest

from bi_etl_and_integration_spark.pipeline import (
    Pipeline, checkpointed_write)


def test_stage_order_and_results(spark):
    p = Pipeline("t")
    calls = []

    @p.stage("a")
    def a(ctx):
        calls.append("a")
        return 1

    @p.stage("b", depends_on=["a"])
    def b(ctx):
        calls.append("b")
        return ctx["a"] + 1

    ctx = p.run(spark)
    assert calls == ["a", "b"]
    assert ctx["b"] == 2
    assert ctx.metrics["a"]["status"] == "ok"


def test_retries(spark):
    p = Pipeline("t")
    attempts = []

    @p.stage("flaky", retries=2)
    def flaky(ctx):
        attempts.append(1)
        if len(attempts) < 3:
            raise RuntimeError("transient")
        return "ok"

    ctx = p.run(spark)
    assert len(attempts) == 3
    assert ctx["flaky"] == "ok"


def test_failure_propagates_without_handler(spark):
    p = Pipeline("t")

    @p.stage("boom")
    def boom(ctx):
        raise RuntimeError("fatal")

    with pytest.raises(RuntimeError, match="fatal"):
        p.run(spark)


def test_run_on_failure_handler(spark):
    """Precedence-constraint Failure path (PRO/Глава 17:25-40)."""
    p = Pipeline("t")
    ran = []

    @p.stage("boom")
    def boom(ctx):
        raise RuntimeError("fatal")

    @p.stage("cleanup", depends_on=["boom"], run_on="failure")
    def cleanup(ctx):
        ran.append("cleanup")

    @p.stage("normal", depends_on=["boom"], run_on="success")
    def normal(ctx):
        ran.append("normal")

    ctx = p.run(spark)
    assert ran == ["cleanup"]
    assert ctx.metrics["__status"]["boom"] == "failed"
    assert ctx.metrics["__status"]["normal"] == "not_run"


def test_resume_from_skips_earlier_phases(spark):
    p = Pipeline("t")
    calls = []

    @p.stage("one")
    def one(ctx):
        calls.append("one")

    @p.stage("two", depends_on=["one"])
    def two(ctx):
        calls.append("two")

    ctx = p.run(spark, resume_from="two")
    assert calls == ["two"]
    assert ctx.metrics["__status"]["one"] == "skipped"


def test_pipeline_from_spec(spark, rows, tmp_path):
    """Declarative spec -> read -> component -> sql -> write, resolved
    stage references and params included (the external-drive surface)."""
    import tests.test_stateful_streaming  # noqa: F401 — registers add_tax
    from bi_etl_and_integration_spark.pipeline import from_spec

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    rows([(1, 100.0), (2, 50.0)], "id int, price double") \
        .write.parquet(src)
    spec = {
        "name": "spec_pipe",
        "stages": [
            {"name": "load", "read": {"format": "parquet", "path": src}},
            {"name": "tax", "component": "add_tax",
             "params": {"rate": 0.5}, "input": "load",
             "depends_on": ["load"]},
            {"name": "big", "sql":
             "SELECT id, with_tax FROM {tax} WHERE with_tax > 100",
             "depends_on": ["tax"]},
            {"name": "publish", "write": {"path": out}, "input": "big",
             "depends_on": ["big"]},
        ],
    }
    ctx = from_spec(spec).run(spark)
    got = {r["id"]: r["with_tax"]
           for r in spark.read.parquet(out).collect()}
    assert got == {1: 150.0}
    assert ctx.metrics["__status"]["publish"] == "ok"


def test_pipeline_from_spec_rejects_unknown_stage_kind(spark):
    from bi_etl_and_integration_spark.pipeline import from_spec
    with pytest.raises(ValueError, match="no read/component"):
        from_spec({"stages": [{"name": "x"}]})


def test_pipeline_from_spec_rejects_unknown_write_format(spark, rows,
                                                        tmp_path):
    """A write format outside the known set fails when the spec is
    built, and a direct export with it fails before the swap: the
    published directory is left as it was."""
    import os
    from bi_etl_and_integration_spark.pipeline import from_spec
    out = str(tmp_path / "out")
    checkpointed_write(rows([(1,)], "id int"), out)
    spec = {"name": "bad", "stages": [
        {"name": "load", "sql": "SELECT 2 AS id"},
        {"name": "out", "input": "load", "depends_on": ["load"],
         "write": {"path": out, "format": "partitionBy"}}]}
    with pytest.raises(ValueError, match="partitionBy"):
        from_spec(spec)
    with pytest.raises(Exception, match="DATA_SOURCE_NOT_FOUND"):
        checkpointed_write(rows([(2,)], "id int"), out, fmt="partitionBy")
    assert [r["id"] for r in spark.read.parquet(out).collect()] == [1]
    assert sorted(os.listdir(tmp_path)) == ["out"]


def test_catalog_sql_entry_point(spark):
    from bi_etl_and_integration_spark.sources import Catalog
    cat = Catalog(spark, "/root/testdata/sf0.001", register_views=True)
    out = cat.sql("SELECT c_mktsegment, COUNT(*) AS n FROM customer "
                  "GROUP BY c_mktsegment")
    assert out.count() > 0
    assert out.columns == ["c_mktsegment", "n"]


def test_checkpointed_write_swaps_atomically(spark, rows, tmp_path):
    path = str(tmp_path / "target")
    v1 = rows([(1,)], "id int")
    checkpointed_write(v1, path)
    assert spark.read.parquet(path).count() == 1
    v2 = rows([(1,), (2,)], "id int")
    checkpointed_write(v2, path)
    assert spark.read.parquet(path).count() == 2


def test_cli_runs_spec_and_reports_status(spark, tmp_path, capsys):
    import json
    from bi_etl_and_integration_spark.__main__ import main
    src = str(tmp_path / "in.parquet")
    spark.range(5).write.parquet(src)
    spec = {"name": "cli_demo", "stages": [
        {"name": "load", "read": {"format": "parquet", "path": src}},
        {"name": "agg", "sql": "SELECT COUNT(*) AS n FROM {load}",
         "depends_on": ["load"]},
        {"name": "out", "write": {"path": str(tmp_path / "out")},
         "input": "agg", "depends_on": ["agg"]}]}
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(json.dumps(spec))
    rc = main(["run-pipeline", str(spec_path)])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["status"] == {"load": "ok", "agg": "ok", "out": "ok"}
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.collect()[0]["n"] == 5


def test_failure_handler_runs_regardless_of_declaration_order(spark):
    from bi_etl_and_integration_spark.pipeline import Pipeline
    p = Pipeline("order")
    ran = []

    @p.stage("cleanup", depends_on=["load"], run_on="failure")
    def cleanup(ctx):
        ran.append("cleanup")

    @p.stage("load")
    def load(ctx):
        raise RuntimeError("boom")

    ctx = p.run(spark)
    assert ran == ["cleanup"]
    assert ctx.metrics["__status"]["load"] == "failed"


def test_resume_from_unknown_stage_raises(spark):
    import pytest
    from bi_etl_and_integration_spark.pipeline import Pipeline
    p = Pipeline("r")

    @p.stage("load")
    def load(ctx):
        return 1

    with pytest.raises(ValueError, match="laod"):
        p.run(spark, resume_from="laod")


def test_recover_publish_heals_missing_path(spark, tmp_path):
    import os
    from bi_etl_and_integration_spark.pipeline import (
        checkpointed_write, recover_publish)
    path = str(tmp_path / "pub")
    df = spark.range(3)
    checkpointed_write(df, path)
    # simulate a crash inside the swap window: path gone, backup left
    os.replace(path, path + "__old_deadbeef")
    assert recover_publish(path) is True
    assert spark.read.parquet(path).count() == 3


def test_parallel_run_matches_serial_statuses(spark):
    import threading
    seen = []
    lock = threading.Lock()

    def make(name, dur=0.0):
        def fn(ctx):
            with lock:
                seen.append(name)
            return name
        return fn

    def build():
        p = Pipeline("par")
        p.stage("a")(make("a"))
        p.stage("b")(make("b"))
        p.stage("c", depends_on=["a", "b"])(make("c"))
        p.stage("d", depends_on=["c"])(make("d"))
        return p

    serial = build().run(spark)
    seen.clear()
    par = build().run(spark, max_parallel=4)
    assert par.metrics["__status"] == serial.metrics["__status"]
    assert par.results["d"] == "d"
    # c ran after both roots, d last
    assert seen.index("c") > max(seen.index("a"), seen.index("b"))
    assert seen[-1] == "d"


def test_serial_run_executes_stages_on_callers_thread(spark):
    """max_parallel=1 runs every stage inline: job groups and
    cache_scope() are thread-local, so a caller's group must cover the
    stages' jobs."""
    import threading
    seen = []
    p = Pipeline("inline")
    p.stage("a")(lambda ctx: seen.append(threading.get_ident()))
    p.stage("b", depends_on=["a"])(
        lambda ctx: seen.append(threading.get_ident()))
    p.stage("c")(lambda ctx: seen.append(threading.get_ident()))
    ctx = p.run(spark)
    assert seen == [threading.get_ident()] * 3
    assert ctx.metrics["__status"] == {"a": "ok", "b": "ok", "c": "ok"}


def test_parallel_run_overlaps_independent_stages(spark):
    import threading
    gate_a, gate_b = threading.Event(), threading.Event()

    p = Pipeline("overlap")

    @p.stage("a")
    def a(ctx):
        gate_a.set()                       # prove b runs while a waits
        assert gate_b.wait(timeout=30)
        return 1

    @p.stage("b")
    def b(ctx):
        assert gate_a.wait(timeout=30)
        gate_b.set()
        return 2

    ctx = p.run(spark, max_parallel=2)     # serial would deadlock
    assert ctx.metrics["__status"] == {"a": "ok", "b": "ok"}


def test_parallel_failure_semantics(spark):
    calls = []

    def build(with_handler):
        p = Pipeline("fail")
        p.stage("ok1")(lambda ctx: calls.append("ok1"))

        @p.stage("boom")
        def boom(ctx):
            raise RuntimeError("kaput")

        if with_handler:
            p.stage("heal", depends_on=["boom"], run_on="failure")(
                lambda ctx: calls.append("heal"))
        p.stage("down", depends_on=["boom"])(
            lambda ctx: calls.append("down"))
        return p

    with pytest.raises(RuntimeError, match="kaput"):
        build(False).run(spark, max_parallel=3)
    assert "down" not in calls

    calls.clear()
    ctx = build(True).run(spark, max_parallel=3)
    st = ctx.metrics["__status"]
    assert st["boom"] == "failed" and st["heal"] == "ok"
    assert st["down"] == "not_run" and "down" not in calls


def test_parallel_resume_from(spark):
    calls = []

    def build():
        p = Pipeline("resume")
        p.stage("early")(lambda ctx: calls.append("early"))
        p.stage("late", depends_on=["early"])(
            lambda ctx: calls.append("late"))
        return p

    ctx = build().run(spark, resume_from="late", max_parallel=2)
    assert calls == ["late"]
    assert ctx.metrics["__status"] == {"early": "skipped", "late": "ok"}


def test_parallel_spark_stages_produce_correct_results(spark):
    """Two independent stages each running real Spark jobs concurrently
    on the shared session — the parallel -j4 export pattern."""
    p = Pipeline("spark-par")

    @p.stage("sum_even")
    def sum_even(ctx):
        return (ctx.spark.range(10_000)
                .where("id % 2 = 0").agg({"id": "sum"}).first()[0])

    @p.stage("sum_odd")
    def sum_odd(ctx):
        return (ctx.spark.range(10_000)
                .where("id % 2 = 1").agg({"id": "sum"}).first()[0])

    @p.stage("total", depends_on=["sum_even", "sum_odd"])
    def total(ctx):
        return ctx["sum_even"] + ctx["sum_odd"]

    ctx = p.run(spark, max_parallel=2)
    assert ctx.results["total"] == sum(range(10_000))


def test_from_spec_snapshot_write(spark, tmp_path):
    """write stage with format: snapshot commits through SnapshotTable
    (append mode accumulates versions)."""
    from bi_etl_and_integration_spark.pipeline import from_spec
    from bi_etl_and_integration_spark.sources.snapshots import (
        SnapshotTable)
    src = str(tmp_path / "src")
    spark.createDataFrame([(1,), (2,)], "k int").write.parquet(src)
    dst = str(tmp_path / "snap")
    spec = {"name": "p", "stages": [
        {"name": "load", "read": {"format": "parquet", "path": src}},
        {"name": "out", "input": "load", "depends_on": ["load"],
         "write": {"path": dst, "format": "snapshot", "mode": "append"}}]}
    from_spec(spec).run(spark)
    from_spec(spec).run(spark)
    t = SnapshotTable(spark, dst)
    assert t.latest_version() == 2
    assert t.read().count() == 4          # two appended commits
    assert t.read(1).count() == 2         # time travel to the first


def test_backfill_catchup_skips_done_periods(spark, tmp_path):
    from bi_etl_and_integration_spark.pipeline import Pipeline, backfill
    import pytest
    runs = []
    p = Pipeline("bf")

    @p.stage("load")
    def load(ctx):
        if ctx.params["period_start"] == "2024-01-03T00:00:00":
            raise RuntimeError("boom")
        runs.append(ctx.params["period_start"])

    state = str(tmp_path / "state")
    out = backfill(p, spark, start="2024-01-01", end="2024-01-03",
                   state_dir=state, grain="day")
    assert [r["status"] for r in out] == ["ran", "ran"]
    assert len(runs) == 2
    # second catchup: everything already marked done
    out2 = backfill(p, spark, start="2024-01-01", end="2024-01-03",
                    state_dir=state, grain="day")
    assert [r["status"] for r in out2] == ["skipped", "skipped"]
    assert len(runs) == 2
    # extend the range: only the new (failing) period runs; stop_on_failure
    out3 = backfill(p, spark, start="2024-01-01", end="2024-01-04",
                    state_dir=state, grain="day")
    assert [r["status"] for r in out3] == ["skipped", "skipped", "failed"]
    # failed period left unmarked -> retried next catchup
    out4 = backfill(p, spark, start="2024-01-03", end="2024-01-04",
                    state_dir=state, grain="day", stop_on_failure=False)
    assert [r["status"] for r in out4] == ["failed"]
    with pytest.raises(ValueError, match="unknown grain"):
        backfill(p, spark, start="2024-01-01", end="2024-01-02",
                 state_dir=state, grain="fortnight")
    with pytest.raises(ValueError, match="before end"):
        backfill(p, spark, start="2024-01-02", end="2024-01-01",
                 state_dir=state)


def test_backfill_marker_race_records_ran(spark, tmp_path):
    """A concurrent backfill creating the completion marker WHILE this
    one runs the period must not crash the catch-up loop: the stage
    simulates the racer by pre-creating its own marker mid-run; the
    period still records 'ran' (idempotent writers make the double run
    safe)."""
    import os
    from bi_etl_and_integration_spark.pipeline import Pipeline, backfill
    state = str(tmp_path / "state")
    os.makedirs(state)
    p = Pipeline("bf_race")

    @p.stage("load")
    def load(ctx):
        tag = ctx.params["period_start"].replace("-", "") \
            .replace(":", "")
        open(os.path.join(state, f"_done_day_{tag}"), "w").close()

    out = backfill(p, spark, start="2024-01-01", end="2024-01-02",
                   state_dir=state, grain="day")
    assert [r["status"] for r in out] == ["ran"]


def test_cli_backfill_periods_and_markers(spark, tmp_path, capsys):
    import json
    from bi_etl_and_integration_spark.__main__ import main
    src = str(tmp_path / "in.parquet")
    spark.range(5).write.parquet(src)
    spec = {"name": "bf_demo", "stages": [
        {"name": "load", "read": {"format": "parquet", "path": src}}]}
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(json.dumps(spec))
    state = str(tmp_path / "state")
    argv = ["backfill", str(spec_path), "--start", "2024-01-01",
            "--end", "2024-01-03", "--state-dir", state]
    rc = main(argv)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert [p["status"] for p in out["periods"]] == ["ran", "ran"]
    rc2 = main(argv)
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc2 == 0
    assert [p["status"] for p in out2["periods"]] == ["skipped", "skipped"]


def test_backfill_handled_failure_still_fails_period(spark, tmp_path):
    """A run_on='failure' handler makes Pipeline.run return normally —
    but the period is NOT loaded, so backfill must record 'failed'
    (with the cause) and leave it unmarked for the next catch-up."""
    from bi_etl_and_integration_spark.pipeline import Pipeline, backfill
    p = Pipeline("handled")

    @p.stage("load")
    def load(ctx):
        raise RuntimeError("upstream 500")

    @p.stage("alert", depends_on=["load"], run_on="failure")
    def alert(ctx):
        pass

    state = str(tmp_path / "state")
    out = backfill(p, spark, start="2024-01-01", end="2024-01-02",
                   state_dir=state, grain="day")
    assert out[0]["status"] == "failed"
    assert "load" in out[0]["error"]
    # unmarked -> retried by the next catch-up, not skipped
    out2 = backfill(p, spark, start="2024-01-01", end="2024-01-02",
                    state_dir=state, grain="day")
    assert out2[0]["status"] == "failed"


def test_backfill_truncated_period_not_marked_complete(spark, tmp_path):
    """An end-truncated final period runs but must NOT claim the full
    period's marker: the next catch-up (larger end) re-runs it over
    the idempotent writers, picking up the remainder."""
    from bi_etl_and_integration_spark.pipeline import Pipeline, backfill
    seen = []
    p = Pipeline("intraday")

    @p.stage("load")
    def load(ctx):
        seen.append((ctx.params["period_start"],
                     ctx.params["period_end"]))

    state = str(tmp_path / "state")
    out = backfill(p, spark, start="2024-01-01",
                   end="2024-01-01T18:00:00",
                   state_dir=state, grain="day")
    assert [r["status"] for r in out] == ["ran_partial"]
    out2 = backfill(p, spark, start="2024-01-01", end="2024-01-02",
                    state_dir=state, grain="day")
    assert [r["status"] for r in out2] == ["ran"]
    # the re-run covered the WHOLE day, replacing the partial load
    assert seen == [("2024-01-01T00:00:00", "2024-01-01T18:00:00"),
                    ("2024-01-01T00:00:00", "2024-01-02T00:00:00")]
