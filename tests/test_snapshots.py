"""Snapshot table format: atomic manifest commits, time travel,
optimistic concurrency, vacuum (sources/snapshots.py)."""

from __future__ import annotations

import os

import pytest

from bi_etl_and_integration_spark.sources.snapshots import (
    SnapshotTable, snapshot_read, snapshot_write)


def test_overwrite_append_read(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    df2 = spark.createDataFrame([(3, "c")], "k int, s string")
    assert t.write(df1, "overwrite") == 1
    assert t.write(df2, "append") == 2
    assert t.latest_version() == 2
    got = sorted(r["k"] for r in t.read().collect())
    assert got == [1, 2, 3]


def test_time_travel_and_snapshot_isolation(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1,)], "k int"), "overwrite")
    pinned = t.read(1)                    # file list captured NOW
    t.write(spark.createDataFrame([(99,)], "k int"), "overwrite")
    assert [r["k"] for r in t.read(1).collect()] == [1]
    assert [r["k"] for r in t.read(2).collect()] == [99]
    assert [r["k"] for r in t.read().collect()] == [99]
    # the pre-commit handle still reads version 1 (snapshot isolation)
    assert [r["k"] for r in pinned.collect()] == [1]


def test_append_schema_mismatch_rejected(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1,)], "k int"), "overwrite")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.write(spark.createDataFrame([("x",)], "k string"), "append")
    # overwrite may change schema
    assert t.write(spark.createDataFrame([("x",)], "k string"),
                   "overwrite") == 2


def test_rollback_is_a_new_commit(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1,)], "k int"), "overwrite")
    t.write(spark.createDataFrame([(2,)], "k int"), "overwrite")
    v = t.rollback(1)
    assert v == 3
    assert [r["k"] for r in t.read().collect()] == [1]
    ops = [h["operation"] for h in t.history()]
    assert ops == ["overwrite", "overwrite", "rollback(1)"]


def test_empty_dataframe_commit(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    empty = spark.createDataFrame([], "k int, s string")
    t.write(empty, "overwrite")
    out = t.read()
    assert out.count() == 0
    assert out.columns == ["k", "s"]


def test_concurrent_appends_all_survive(spark, tmp_path):
    """Optimistic concurrency: racing appends must serialize via the
    atomic manifest link — every row survives, versions are dense."""
    from concurrent.futures import ThreadPoolExecutor
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(0,)], "k int"), "overwrite")

    def append(i):
        return t.write(spark.createDataFrame([(i,)], "k int"), "append")

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(ex.map(append, range(1, 7)))
    assert sorted(versions) == list(range(2, 8))
    got = sorted(r["k"] for r in t.read().collect())
    assert got == list(range(7))


def test_manifest_race_retries(spark, tmp_path, monkeypatch):
    """A manifest created by 'someone else' between latest_version()
    and the commit create forces a re-parent retry."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1,)], "k int"), "overwrite")
    from bi_etl_and_integration_spark.sources import snapshots as sn
    real_latest = t.latest_version
    fired = {"n": 0}

    def hostile_latest():
        v = real_latest()
        if fired["n"] == 0:
            fired["n"] += 1
            # interloper commits v+1 with an identical-schema manifest
            import json
            m = sn._read_manifest(t.path, v)
            m["version"] = v + 1
            with open(sn._manifest_path(t.path, v + 1), "w") as fh:
                json.dump(m, fh)
        return v

    monkeypatch.setattr(t, "latest_version", hostile_latest)
    ver = t.write(spark.createDataFrame([(2,)], "k int"), "append")
    assert ver == 3                       # retried past the interloper
    # v2 (interloper) re-listed v1's files; the append re-parented onto
    # it, so the final table is v1's rows + the appended row
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


def test_vacuum_prunes_old_versions(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.write(spark.createDataFrame([(i,)], "k int"), "overwrite")
    deleted = t.vacuum(keep_last=2)
    assert len(deleted) == 2              # v1, v2 data dirs gone
    assert [r["k"] for r in t.read().collect()] == [3]
    assert [r["k"] for r in t.read(3).collect()] == [2]
    with pytest.raises(FileNotFoundError):
        t.read(1)
    # data dirs on disk match what the retained manifests reference
    live = os.listdir(os.path.join(t.path, "data"))
    assert len(live) == 2


def test_vacuum_rejects_keep_last_below_one(spark, tmp_path):
    """keep_last=0 used to delete nothing and keep_last=-1 the oldest
    version: both are errors, and every version stays readable."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(3):
        t.write(spark.createDataFrame([(i,)], "k int"), "overwrite")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            t.vacuum(keep_last=bad)
    assert [[r["k"] for r in t.read(v).collect()] for v in (1, 2, 3)] \
        == [[0], [1], [2]]


def test_partitioned_table_appends_and_compacts(spark, tmp_path):
    """A partitioned table: files land in Hive ``col=value`` dirs, an
    append keeps the table's partitioning, the version reads back as
    ONE scan across its commits with a static partition filter, and
    compaction keeps the partitioning."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t._commit("overwrite", *t._stage(
        spark.createDataFrame([(1, "a"), (2, "b")], "p int, s string"), "p"))
    t.write(spark.createDataFrame([(1, "c")], "p int, s string"), "append")
    rows = lambda: sorted(tuple(r) for r in t.read().collect())  # noqa: E731
    assert t.read().columns == ["s", "p"]
    assert rows() == [("a", 1), ("b", 2), ("c", 1)]
    pruned = t.read().where("p = 1")
    assert sorted(r["s"] for r in pruned.collect()) == ["a", "c"]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 1 and "PartitionFilters: [isnotnull(p" in scans[0]
    from bi_etl_and_integration_spark.sources import snapshots as sn

    def files():
        return sn._read_manifest(t.path, t.latest_version())["files"]
    assert len({e["path"].split(os.sep)[1] for e in files()}) == 2
    assert all(os.sep + "p=" in e["path"] for e in files())
    t.compact()
    assert rows() == [("a", 1), ("b", 2), ("c", 1)]
    assert sn._read_manifest(t.path, t.latest_version())["partition_by"] \
        == "p"
    assert all(os.sep + "p=" in e["path"] for e in files())
    # files staged unpartitioned cannot join the partitioned version
    with pytest.raises(ValueError, match="partitioning"):
        t._commit("append", *t._stage(
            spark.createDataFrame([(3, "d")], "p int, s string")))


def test_convenience_wrappers(spark, tmp_path):
    p = str(tmp_path / "t")
    snapshot_write(spark, spark.createDataFrame([(5,)], "k int"), p)
    assert [r["k"] for r in snapshot_read(spark, p).collect()] == [5]


def test_manifest_stats_and_row_count(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(i, f"s{i}") for i in range(10)],
                                  "k int, s string"), "overwrite")
    assert t.row_count() == 10
    import json
    from bi_etl_and_integration_spark.sources import snapshots as sn
    m = sn._read_manifest(t.path, 1)
    entry = m["files"][0]
    assert entry["rows"] > 0
    assert entry["stats"]["k"][0] is not None   # min captured


def test_prune_skips_disjoint_files(spark, tmp_path):
    """Two commits with disjoint key ranges: a pruned read must scan
    only the matching commit's files (checked via inputFiles)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    low = spark.createDataFrame([(i,) for i in range(100)], "k int") \
        .coalesce(1)
    high = spark.createDataFrame([(i,) for i in range(1000, 1100)],
                                 "k int").coalesce(1)
    t.write(low, "overwrite")
    t.write(high, "append")
    full = t.read()
    pruned = t.read(prune=[("k", ">=", 1000)])
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # pruning never drops qualifying rows
    assert pruned.where("k >= 1000").count() == 100
    # a predicate matching nothing prunes every file -> empty frame
    none = t.read(prune=[("k", ">", 5000)])
    assert none.count() == 0
    assert none.columns == ["k"]


def test_prune_is_conservative_not_a_filter(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1,), (50,)], "k int").coalesce(1),
            "overwrite")
    # file range [1,50] intersects k>=10: the file is read, and rows
    # BELOW the predicate are still present (caller applies the filter)
    df = t.read(prune=[("k", ">=", 10)])
    assert sorted(r["k"] for r in df.collect()) == [1, 50]
    with pytest.raises(ValueError, match="prune op"):
        t.read(prune=[("k", "!=", 1)])


def test_string_and_date_stats_prune(spark, tmp_path):
    from pyspark.sql import functions as F
    t = SnapshotTable(spark, str(tmp_path / "t"))
    a = spark.createDataFrame([("2024-01-05", "alpha")],
                              "d string, s string") \
        .select(F.col("d").cast("date").alias("d"), "s").coalesce(1)
    b = spark.createDataFrame([("2024-06-05", "zeta")],
                              "d string, s string") \
        .select(F.col("d").cast("date").alias("d"), "s").coalesce(1)
    t.write(a, "overwrite")
    t.write(b, "append")
    # ISO date strings order lexicographically == chronologically
    pruned = t.read(prune=[("d", ">=", "2024-03-01")])
    assert len(pruned.inputFiles()) == 1
    assert [r["s"] for r in pruned.collect()] == ["zeta"]


def test_compact_merges_small_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(0,)], "k int"), "overwrite")
    for i in range(1, 5):                  # 4 tiny append commits
        t.write(spark.createDataFrame([(i,)], "k int"), "append")
    before = len(t.read().inputFiles())
    v = t.compact(target_files=1)
    assert len(t.read().inputFiles()) == 1 < before
    assert sorted(r["k"] for r in t.read().collect()) == list(range(5))
    assert t.history()[-1]["operation"] == "compact"
    # pre-compaction version is still intact until vacuum
    assert len(t.read(v - 1).inputFiles()) == before



def test_compact_writes_one_file_per_read_split(spark, tmp_path):
    """compact() keeps the read's splits, so the rewrite runs as
    parallel tasks and still merges small files; target_files=n
    coalesces to n."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(8):
        t.write(spark.createDataFrame([(i,)], "k int"), "append")
    splits = t.read().rdd.getNumPartitions()
    assert 1 < splits < 8
    t.compact()
    # an empty split writes no file
    assert 1 < t.history()[-1]["n_files"] <= splits
    assert sorted(r["k"] for r in t.read().collect()) == list(range(8))
    t.compact(target_files=1)
    assert t.history()[-1]["n_files"] == 1

def test_append_schema_evolution_union_and_nulls(spark, rows, tmp_path):
    """evolve_schema=True: new columns append to the manifest schema;
    old files read NULL for them, new files read NULL for columns
    they lack; type conflicts still error."""
    import pytest
    from bi_etl_and_integration_spark.sources.snapshots import (
        SnapshotTable)
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.write(rows([(1, "a")], "k long, v string"))
    # plain append with a different schema still errors loudly
    with pytest.raises(ValueError, match="schema mismatch"):
        t.write(rows([(2, "b", 1.5)], "k long, v string, score double"),
                mode="append")
    t.write(rows([(2, "b", 1.5)], "k long, v string, score double"),
            mode="append", evolve_schema=True)
    got = {r["k"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("b", 1.5)}
    # dropped column on a later append: stays in schema, NULL-filled
    t.write(rows([(3, 2.5)], "k long, score double"),
            mode="append", evolve_schema=True)
    got = {r["k"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert got[3] == (None, 2.5) and len(got) == 3
    # same name, different type: never silently widened
    with pytest.raises(ValueError, match="explicit cast"):
        t.write(rows([(4, "oops")], "k long, score string"),
                mode="append", evolve_schema=True)
    # history intact: four committed versions, all readable
    assert len(t.versions()) == 3
    assert {r["k"] for r in t.read(version=1).collect()} == {1}


def test_rollback_after_interloper_lands_on_next_free_version(
        spark, tmp_path, monkeypatch):
    """Another writer commits the version a rollback computed: the
    rollback re-parents onto the next free version instead of failing."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1,)], "k int"), "overwrite")
    t.write(spark.createDataFrame([(2,)], "k int"), "overwrite")
    real_latest = t.latest_version
    fired = []

    def racing_latest():
        v = real_latest()
        if not fired:
            fired.append(v)
            # the interloper lands v+1 after this writer read v
            SnapshotTable(spark, t.path).write(
                spark.createDataFrame([(3,)], "k int"), "append")
        return v

    monkeypatch.setattr(t, "latest_version", racing_latest)
    assert t.rollback(1) == 4
    assert [r["k"] for r in t.read().collect()] == [1]
    assert [h["operation"] for h in t.history()] == [
        "overwrite", "overwrite", "append", "rollback(1)"]


def test_failed_manifest_serialisation_publishes_nothing(
        spark, tmp_path, monkeypatch):
    """A commit that dies while serialising its manifest leaves no
    v{N}.json (and no temp file): the previous version stays the
    readable latest and later commits still append to it."""
    from bi_etl_and_integration_spark.sources import snapshots as sn
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1,)], "k int"), "overwrite")

    def broken_dump(obj, fh):
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(sn.json, "dump", broken_dump)
        with pytest.raises(OSError, match="disk full"):
            t.write(spark.createDataFrame([(2,)], "k int"), "append")
    assert os.listdir(os.path.join(t.path, "_manifests")) == [
        os.path.basename(sn._manifest_path(t.path, 1))]
    assert [r["k"] for r in t.read().collect()] == [1]
    assert t.write(spark.createDataFrame([(3,)], "k int"), "append") == 2
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3]


def test_compact_opens_no_existing_manifest_for_writing(
        spark, tmp_path, monkeypatch):
    """Committed manifests are immutable: compaction publishes a new
    version without reopening (and truncating) one for writing."""
    from bi_etl_and_integration_spark.sources import snapshots as sn
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(0,)], "k int"), "overwrite")
    t.write(spark.createDataFrame([(1,)], "k int"), "append")
    rewrites = []

    def spy_open(path, mode="r", *args, **kwargs):
        if ("w" in mode or "a" in mode or "+" in mode) \
                and os.path.basename(path).startswith("v") \
                and os.path.exists(path):
            rewrites.append(os.path.basename(path))
        return open(path, mode, *args, **kwargs)

    monkeypatch.setattr(sn, "open", spy_open, raising=False)
    v = t.compact(target_files=1)
    assert rewrites == []
    last = t.history()[-1]
    assert (last["version"], last["operation"], last["n_files"]) == (
        v, "compact", 1)
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1]
