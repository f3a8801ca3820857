"""Tests: incremental aggregate MV and literal-dictionary lookup."""

from __future__ import annotations

from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.mv import IncrementalAggMV
from bi_etl_and_integration_spark.operators.relational import dict_lookup


def _mv(tmp_path):
    return IncrementalAggMV(
        str(tmp_path / "mv"), ["k"],
        {"total": F.col("v"), "avg_v": F.col("v")},
        {"total": "sum", "avg_v": "avg"})


def test_mv_incremental_refresh_equals_direct(spark, rows, tmp_path):
    mv = _mv(tmp_path)
    b1 = rows([("a", 1.0), ("a", 3.0), ("b", 10.0)], "k string, v double")
    b2 = rows([("a", 5.0), ("c", 7.0)], "k string, v double")
    mv.refresh(b1)
    mv.refresh(b2)
    got = {r["k"]: (r["total"], r["avg_v"])
           for r in mv.read(spark).collect()}
    assert got == {"a": (9.0, 3.0), "b": (10.0, 10.0), "c": (7.0, 7.0)}


def test_mv_compaction_preserves_results_and_composes(spark, rows,
                                                      tmp_path):
    mv = _mv(tmp_path)
    for vals in ([("a", 1.0)], [("a", 2.0)], [("b", 4.0)]):
        mv.refresh(rows(vals, "k string, v double"))
    before = sorted(map(tuple, mv.read(spark).collect()))
    n_before = mv.n_delta_files()
    mv.compact(spark)
    assert sorted(map(tuple, mv.read(spark).collect())) == before
    assert mv.n_delta_files() < n_before
    # appends after compaction still merge correctly
    mv.refresh(rows([("a", 3.0)], "k string, v double"))
    got = {r["k"]: r["total"] for r in mv.read(spark).collect()}
    assert got == {"a": 6.0, "b": 4.0}


def test_dict_lookup_is_projection_only(spark, rows):
    from bi_etl_and_integration_spark import plans
    df = rows([(1, "O"), (2, "F"), (3, "X")], "id int, code string")
    out = dict_lookup(df, {"O": "open", "F": "final"}, "code", "status",
                      default="unknown")
    got = {r["id"]: r["status"] for r in out.collect()}
    assert got == {1: "open", 2: "final", 3: "unknown"}
    assert plans.shuffle_count(out) == 0  # dictGet: pure projection
    assert plans.broadcast_join_count(out) == 0


def test_mv_commits_through_snapshot_table(spark, rows, tmp_path):
    """Refreshes are append commits and compaction an overwrite commit
    of the folded states: the view's history is the commit log, and a
    decimal view still takes refreshes after it is compacted."""
    from bi_etl_and_integration_spark.sources.snapshots import (
        SnapshotTable)
    mv = IncrementalAggMV(str(tmp_path / "mv"), ["k"],
                          {"t": F.col("v").cast("decimal(20,2)")})
    mv.refresh(rows([("a", 1.0), ("b", 2.0)], "k string, v double"))
    mv.refresh(rows([("a", 3.0)], "k string, v double"))
    mv.compact(spark)
    hist = SnapshotTable(spark, mv.path).history()
    assert [(h["version"], h["operation"]) for h in hist] == [
        (1, "append"), (2, "append"), (3, "overwrite")]
    assert hist[1]["n_files"] > hist[0]["n_files"]    # deltas accumulate
    assert mv.n_delta_files() == hist[-1]["n_files"]
    mv.refresh(rows([("b", 5.0)], "k string, v double"))
    got = {r["k"]: float(r["t"]) for r in mv.read(spark).collect()}
    assert got == {"a": 4.0, "b": 7.0}
