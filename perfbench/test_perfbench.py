"""Tests of the benchmark's own bookkeeping.

    python3 -m pytest perfbench/test_perfbench.py

The unit tests need no Spark.  ``test_traced_run`` runs one short traced
``llm_curation`` run end to end (about a minute on 4 vCPUs).
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import LLM_CURATION, PassStats  # noqa: E402


def test_self_times_add_up_to_the_root():
    t = Tracer(True)
    root = t.open("pass", "bench", 0.0)
    op = t.open("op", "bench", 1.0)
    t.add("build", "queries", 1.0, 1.5)
    t.add("exec", "exec", 1.5, 4.0)
    t.close(op, 4.25)
    t.add("probe", "trace", 4.25, 4.5)
    t.close(root, 5.0)
    self_s = t.self_times(root)
    assert self_s == {"bench": 1.75, "queries": 0.5, "exec": 2.5,
                      "trace": 0.25}
    assert sum(self_s.values()) == root.end - root.start
    assert t.check(root) == []


def test_check_rejects_spans_that_do_not_nest():
    """Self times always add up to the root's duration, so the run checks
    nesting instead: here they add up although the spans overlap."""
    t = Tracer(True)
    root = t.open("pass", "bench", 0.0)
    op = t.open("op", "bench", 1.0)
    t.add("build", "queries", 1.0, 2.5)
    t.add("exec", "exec", 2.0, 4.0)
    t.close(op, 4.0)
    t.add("probe", "trace", 4.5, 6.0)
    t.close(root, 5.0)
    assert sum(t.self_times(root).values()) == root.end - root.start
    assert sorted(t.check(root)) == [
        "build overlaps exec", "negative self time of op",
        "probe not inside pass"]


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("op", "bench"):
        assert t.call("queries", lambda: 7) == 7
        t.count(jobs=1)
    assert t.spans == []


def _probe(monkeypatch, stages: dict[int, list[dict]]):
    def urlopen(url, timeout):
        return io.StringIO(json.dumps(stages[int(url.rsplit("/", 1)[1])]))
    monkeypatch.setattr(layers.urllib.request, "urlopen", urlopen)
    p = layers.Probe.__new__(layers.Probe)
    p.sc = SimpleNamespace(uiWebUrl="http://localhost:4040",
                           applicationId="local-1")
    p._rest = None
    return p


def test_stage_bytes_sum_attempts_of_the_ops_own_stages(monkeypatch):
    p = _probe(monkeypatch, {
        3: [{"shuffleWriteBytes": 100, "diskBytesSpilled": 0}],
        4: [{"shuffleWriteBytes": 50, "diskBytesSpilled": 7},
            {"shuffleWriteBytes": 25}],
        9: [{"shuffleWriteBytes": 10 ** 9, "diskBytesSpilled": 10 ** 9}]})
    assert p.stage_bytes([3, 4]) == (175, 7)
    assert p.stage_bytes([]) == (0, 0)


def test_per_op_byte_counts_are_never_negative(monkeypatch):
    """Each op's bytes are a sum over its own stages, so stages evicted
    from or added to Spark's capped stage list elsewhere cannot make a
    count negative, unlike a difference of two list totals."""
    stages = {s: [{"shuffleWriteBytes": 10 * s, "diskBytesSpilled": s % 3}]
              for s in range(1, 40)}
    p = _probe(monkeypatch, stages)
    ops = [range(1, 10), range(10, 11), range(11, 40)]
    for op_stages in ops:
        shuffle, spill = p.stage_bytes(op_stages)
        assert shuffle >= 0 and spill >= 0
    assert sum(p.stage_bytes(o)[0] for o in ops) == sum(
        10 * s for s in range(1, 40))


def test_group_counts_only_stages_that_ran():
    infos = {1: SimpleNamespace(stageIds=[10, 11]),
             2: SimpleNamespace(stageIds=[12])}
    stage = {10: SimpleNamespace(numCompletedTasks=4),
             11: SimpleNamespace(numCompletedTasks=0),   # skipped
             12: SimpleNamespace(numCompletedTasks=1)}
    tracker = SimpleNamespace(getJobIdsForGroup=lambda g: [1, 2],
                              getJobInfo=infos.get, getStageInfo=stage.get)
    p = layers.Probe.__new__(layers.Probe)
    p.sc = SimpleNamespace(statusTracker=lambda: tracker)
    assert p.group("g") == {"jobs": 2, "stages": [10, 12], "tasks": 5}


def test_jit_delta_counts_new_threads_from_zero():
    assert layers.jit_delta({1: 5.0, 2: 1.0}, {1: 6.5, 3: 0.25}) == 1.75


def test_failed_ops():
    q = PassStats(["a", "b", "c"])
    q.digests = {"a": (1, 5), "b": (2, 6)}
    q.errors = {"c": "boom"}
    assert run.failed_ops("llm_curation", q,
                          {"a": [1, 5], "b": [2, 7]}) == {"b", "c"}
    e = PassStats(["batch_0", "batch_1", "stream"])
    e.digests = {"orders": (3, 1), "stream_orders": (3, 2)}
    want = {"orders": [3, 1], "stream_orders": [3, 1]}
    assert run.failed_ops("etl_load", e, want) == {"stream"}
    e.digests["orders"] = (4, 1)
    assert run.failed_ops("etl_load", e, want) == {
        "batch_0", "batch_1", "stream"}


def test_traced_run():
    root = os.path.dirname(HERE)
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "llm_curation", "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=root, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == set(run.PER_LAYER)
    self_sum = sum(v for k, v in m.items() if k.startswith("trace.self_s."))
    assert abs(self_sum - m["trace.pass_s"]) < 1e-6
    assert m["exec.jobs"] > m["queries.build_jobs"] > 0
    assert m["codegen.compiles"] > 0
    with open(os.path.join(root, ".perfbench", "out",
                           "spans-llm_curation-3.json")) as fh:
        spans = json.load(fh)
    ops = [s for s in spans if "shuffle_write_bytes" in s["counts"]]
    assert len(ops) >= 2 * len(LLM_CURATION)    # two traced passes at least
    assert all(s["counts"]["shuffle_write_bytes"] >= 0
               and s["counts"]["spill_bytes"] >= 0 for s in ops)
