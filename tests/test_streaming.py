"""Unit tests: streaming surface (SURVEY.md §2.10).

The windowed-agg helpers run identically on batch and streaming
DataFrames; the real stream test drives a file source through a
tumbling window into a memory sink."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from bi_etl_and_integration_spark.streaming.windows import (
    session_windowed_agg, sliding_windowed_agg, tumbling_windowed_agg)

EV = "k string, ts timestamp, v double"


def _events(rows):
    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)
    return rows([("a", t0, 1.0),
                 ("a", t0 + dt.timedelta(minutes=5), 2.0),
                 ("a", t0 + dt.timedelta(minutes=15), 4.0),
                 ("b", t0, 8.0)], EV)


def test_tumbling_window_batch(rows):
    out = tumbling_windowed_agg(_events(rows), "ts", "10 minutes", ["k"],
                                {"s": F.sum("v")})
    got = {(r["k"], r["window"]["start"].minute): r["s"]
           for r in out.collect()}
    assert got == {("a", 0): 3.0, ("a", 10): 4.0, ("b", 0): 8.0}


def test_sliding_window_batch(rows):
    out = sliding_windowed_agg(_events(rows), "ts", "10 minutes",
                               "5 minutes", ["k"], {"n": F.count(F.lit(1))})
    # row at minute 5 belongs to windows starting at 0 and 5
    a_windows = [r for r in out.collect() if r["k"] == "a"]
    assert sum(r["n"] for r in a_windows) > 3  # rows counted in >1 window


def test_session_window_batch(rows):
    out = session_windowed_agg(_events(rows), "ts", "7 minutes", ["k"],
                               {"n": F.count(F.lit(1))})
    a_sessions = sorted(r["n"] for r in out.collect() if r["k"] == "a")
    # minutes 0,5 merge (gap 5 < 7); minute 15 is its own session
    assert a_sessions == [1, 2]


def test_streaming_tumbling_end_to_end(spark, rows, tmp_path):
    """readStream -> watermark+window -> memory sink, batch-vs-stream
    result parity (the Q41 semantics check)."""
    src = str(tmp_path / "stream_src")
    # watermarks require TIMESTAMP (LTZ) event time — the session default
    # is NTZ, so the streaming source declares ts as timestamp_ltz
    batch = _events(rows).withColumn(
        "ts", F.col("ts").cast("timestamp_ltz"))
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    windowed = tumbling_windowed_agg(stream, "ts", "10 minutes", ["k"],
                                     {"s": F.sum("v")}, watermark="1 hour")
    q = (windowed.writeStream.outputMode("complete")
         .format("memory").queryName("t_stream").start())
    try:
        q.processAllAvailable()
        got = {(r["k"], r["window"]["start"].minute): r["s"]
               for r in spark.table("t_stream").collect()}
    finally:
        q.stop()
    assert got == {("a", 0): 3.0, ("a", 10): 4.0, ("b", 0): 8.0}


def test_dedup_within_watermark_stream(spark, rows, tmp_path):
    """Replayed events (the CDC rerun hazard) collapse to exactly-once
    within the watermark; batch fallback dedups identically."""
    import datetime as dt
    from bi_etl_and_integration_spark.streaming.windows import (
        dedup_within_watermark)
    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)
    batch = rows([("e1", t0, 1.0), ("e1", t0, 1.0),               # replay
                  ("e1", t0 + dt.timedelta(seconds=30), 1.0),     # replay
                  ("e2", t0 + dt.timedelta(minutes=1), 2.0)],
                 "event_id string, ts timestamp, v double") \
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    src = str(tmp_path / "dedup_src")
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    deduped = dedup_within_watermark(stream, ["event_id"], "ts",
                                     "10 minutes")
    q = (deduped.writeStream.outputMode("append")
         .format("memory").queryName("dedup_stream").start())
    try:
        q.processAllAvailable()
        got = sorted(r["event_id"]
                     for r in spark.table("dedup_stream").collect())
    finally:
        q.stop()
    assert got == ["e1", "e2"]
    # batch degradation: same keys survive
    b = dedup_within_watermark(batch, ["event_id"], "ts", "10 minutes")
    assert sorted(r["event_id"] for r in b.collect()) == ["e1", "e2"]


def test_stream_stream_interval_join(spark, rows, tmp_path):
    """Two file streams joined on key within an event-time interval —
    the bounded-state stream-stream join; matches only within the
    window, state finite by watermark + bound."""
    import datetime as dt
    from bi_etl_and_integration_spark.streaming.windows import interval_join
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    clicks = rows([("u1", t0, "c1"),
                   ("u2", t0 + dt.timedelta(minutes=30), "c2")],
                  "uid string, cts timestamp, click string") \
        .withColumn("cts", F.col("cts").cast("timestamp_ltz"))
    buys = rows([("u1", t0 + dt.timedelta(minutes=5), "b1"),    # in window
                 ("u2", t0 + dt.timedelta(minutes=50), "b2"),   # outside
                 ("u3", t0, "b3")],                             # no click
                "uid string, bts timestamp, buy string") \
        .withColumn("bts", F.col("bts").cast("timestamp_ltz"))
    d1, d2 = str(tmp_path / "clicks"), str(tmp_path / "buys")
    clicks.write.parquet(d1)
    buys.write.parquet(d2)
    sc = spark.readStream.schema(clicks.schema).parquet(d1)
    sb = spark.readStream.schema(buys.schema).parquet(d2)
    j = interval_join(sc, sb, ["uid"], left_ts="cts", right_ts="bts",
                      lower="0 minutes", upper="10 minutes",
                      watermark="1 hour")
    q = (j.select("uid", "click", "buy").writeStream
         .outputMode("append").format("memory")
         .queryName("ij_stream").start())
    try:
        q.processAllAvailable()
        got = {(r["uid"], r["click"], r["buy"])
               for r in spark.table("ij_stream").collect()}
    finally:
        q.stop()
    assert got == {("u1", "c1", "b1")}
    # batch path: same predicate, same single match
    bj = interval_join(clicks, buys, ["uid"], left_ts="cts",
                       right_ts="bts", lower="0 minutes",
                       upper="10 minutes", watermark="1 hour")
    assert [(r["uid"], r["buy"]) for r in bj.collect()] == [("u1", "b1")]


def test_interval_join_same_named_columns(rows):
    """Both sides carrying identically-named columns (the common
    same-schema case) must resolve: bound refs in the time predicate,
    suffixed right-side duplicates in the output."""
    import datetime as dt
    from bi_etl_and_integration_spark.streaming.windows import interval_join
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    a = rows([("u1", t0, "a1")], "uid string, ts timestamp, tag string")
    b = rows([("u1", t0 + dt.timedelta(minutes=5), "b1"),
              ("u1", t0 + dt.timedelta(minutes=50), "b2")],
             "uid string, ts timestamp, tag string")
    j = interval_join(a, b, ["uid"], left_ts="ts", right_ts="ts",
                      lower="0 minutes", upper="10 minutes",
                      watermark="1 hour")
    out = j.collect()
    assert [(r["uid"], r["tag"], r["tag__right"]) for r in out] == \
        [("u1", "a1", "b1")]
    # full outer keeps one coalesced key column
    fo = interval_join(a, b, ["uid"], left_ts="ts", right_ts="ts",
                       lower="0 minutes", upper="10 minutes",
                       watermark="1 hour", how="full_outer")
    assert fo.columns.count("uid") == 1
    assert fo.where(F.col("uid").isNull()).count() == 0


def test_interval_join_rejects_semi_anti(rows):
    import pytest

    from bi_etl_and_integration_spark.streaming.windows import interval_join
    a = rows([(1, "2024-01-01 00:00:00")], "uid long, ats string") \
        .withColumn("ats", F.col("ats").cast("timestamp"))
    b = rows([(1, "2024-01-01 00:00:01")], "uid long, bts string") \
        .withColumn("bts", F.col("bts").cast("timestamp"))
    with pytest.raises(ValueError, match="left_semi"):
        interval_join(a, b, ["uid"], left_ts="ats", right_ts="bts",
                      lower="5 seconds", upper="5 seconds",
                      watermark="10 seconds", how="left_semi")


def test_dedup_batch_equal_ts_deterministic(rows):
    """Equal-ts replays with differing payloads resolve to one stable
    winner (payload tiebreak), independent of partition order."""
    from bi_etl_and_integration_spark.streaming.windows import (
        dedup_within_watermark)
    data = [(1, "2024-01-01 00:00:00", p) for p in ("b", "a", "c")]
    outs = set()
    for n_part in (1, 2, 3):
        df = rows(data, "k long, ts string, payload string") \
            .withColumn("ts", F.col("ts").cast("timestamp")) \
            .repartition(n_part)
        got = dedup_within_watermark(df, ["k"], "ts", "1 minute").collect()
        assert len(got) == 1
        outs.add(got[0]["payload"])
    assert outs == {"a"}


def test_foreach_batch_upsert_snapshot_transactional(spark, rows, tmp_path):
    """Micro-batch MERGE into a SnapshotTable: each epoch is one
    commit; old versions stay readable (no visibility gap) and the
    batch history is auditable."""
    from bi_etl_and_integration_spark.operators.cdc import (
        OP_DELETE, OP_INSERT, OP_UPDATE)
    from bi_etl_and_integration_spark.sources.snapshots import (
        SnapshotTable)
    from bi_etl_and_integration_spark.streaming.runner import (
        foreach_batch_upsert_snapshot)

    src = str(tmp_path / "cdc_src")
    table_path = str(tmp_path / "cdc_snap")
    ckpt = str(tmp_path / "ckpt")
    ch1 = rows([(1, "a", 1, OP_INSERT), (2, "b", 2, OP_INSERT)],
               "k int, v string, lsn int, op int")
    ch1.write.parquet(src)

    stream = spark.readStream.schema(ch1.schema).parquet(src)
    writer = foreach_batch_upsert_snapshot(
        stream, table_path=table_path, keys=["k"], offset_col="lsn",
        checkpoint_dir=ckpt)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    t = SnapshotTable(spark, table_path)
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "a", 2: "b"}
    v1 = t.latest_version()

    ch2 = rows([(1, "a2", 3, OP_UPDATE), (2, None, 4, OP_DELETE),
                (3, "c", 5, OP_INSERT)], "k int, v string, lsn int, op int")
    ch2.write.mode("append").parquet(src)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "a2", 3: "c"}
    # the pre-batch version is still fully readable (time travel)
    assert {r["k"]: r["v"] for r in t.read(v1).collect()} == {1: "a", 2: "b"}


def test_apply_changes_transactional_bootstrap_and_rollback(spark, rows,
                                                            tmp_path):
    from bi_etl_and_integration_spark.operators.cdc import (
        OP_DELETE, OP_INSERT, apply_changes_transactional)
    from bi_etl_and_integration_spark.sources.snapshots import (
        SnapshotTable)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    ch1 = rows([(1, "a", 1, OP_INSERT)], "k int, v string, lsn int, op int")
    v1 = apply_changes_transactional(t, ch1, ["k"], "lsn")
    assert v1 == 1                       # bootstrap from empty table
    ch2 = rows([(1, None, 2, OP_DELETE), (2, "b", 3, OP_INSERT)],
               "k int, v string, lsn int, op int")
    v2 = apply_changes_transactional(t, ch2, ["k"], "lsn")
    assert {r["k"] for r in t.read().collect()} == {2}
    t.rollback(v1)                       # bad batch: revert
    assert {r["k"] for r in t.read().collect()} == {1}
    assert v2 == 2


def test_snapshot_upsert_replay_is_idempotent(spark, rows, tmp_path):
    """Crash-replay contract: re-applying the SAME micro-batch (what a
    restarted stream does for an uncommitted epoch) must converge to
    the same table content — apply_changes is a deterministic function
    of (target, changes), so the second commit is a no-op in value."""
    from bi_etl_and_integration_spark.operators.cdc import (
        OP_INSERT, OP_UPDATE, apply_changes_transactional)
    from bi_etl_and_integration_spark.sources.snapshots import (
        SnapshotTable)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    batch = rows([(1, "a", 1, OP_INSERT), (2, "b", 2, OP_INSERT),
                  (1, "a2", 3, OP_UPDATE)],
                 "k int, v string, lsn int, op int")
    apply_changes_transactional(t, batch, ["k"], "lsn")
    first = sorted((r["k"], r["v"]) for r in t.read().collect())
    apply_changes_transactional(t, batch, ["k"], "lsn")   # replay
    second = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert first == second == [(1, "a2"), (2, "b")]
    assert t.latest_version() == 2        # replay is a new (equal) version


def test_stream_enrich_static_dim(spark, rows, tmp_path):
    """Stream-static lookup: rate-free file stream joined to a static
    dim; misses keep stream rows (left join), and unsupported join
    modes fail fast."""
    import pytest
    from bi_etl_and_integration_spark.streaming.runner import (
        stream_enrich, stream_to_memory)
    src = tmp_path / "events_in"
    rows([(1, 10.0), (2, 20.0), (9, 90.0)],
         "dim_id long, value double").write.parquet(str(src))
    dim = rows([(1, "gold"), (2, "silver")], "dim_id long, tier string")
    stream = (spark.readStream.schema("dim_id long, value double")
              .parquet(str(src)))
    with pytest.raises(ValueError, match="unsupported"):
        stream_enrich(stream, dim, ["dim_id"], how="full")
    q = stream_to_memory(
        stream_enrich(stream, dim, ["dim_id"]), "enriched")
    try:
        got = {r["dim_id"]: r["tier"]
               for r in spark.table("enriched").collect()}
        assert got == {1: "gold", 2: "silver", 9: None}
    finally:
        q.stop()


def _index_tables(spark, index_dir):
    """The (buckets, shingles) snapshot tables of a dedup_stream index."""
    from bi_etl_and_integration_spark.sources.snapshots import (
        SnapshotTable)
    return [SnapshotTable(spark, os.path.join(index_dir, kind))
            for kind in ("buckets", "shingles")]


def _latest_epoch(table):
    from bi_etl_and_integration_spark.sources.snapshots import (
        _read_manifest)
    return _read_manifest(table.path, table.latest_version())["epoch"]


def _commit_dirs(table):
    """The data commit directories the latest version references."""
    from bi_etl_and_integration_spark.sources.snapshots import (
        _read_manifest)
    m = _read_manifest(table.path, table.latest_version())
    return {e["path"].split(os.sep)[1] for e in m["files"]}


def test_streaming_dedup_rolling_index(spark, rows, tmp_path):
    """Rolling-crawl online dedup: two micro-batches through
    streaming.dedup.dedup_stream — batch 1 establishes the index,
    batch 2 drops both its intra-batch near-dup (greedy keep-first)
    and its cross-batch near-dup of an epoch-0 survivor, and the
    persisted index grows by exactly the survivors.  Replay of the
    final epoch (the crash-recovery path) is byte-idempotent."""
    from bi_etl_and_integration_spark.streaming.dedup import dedup_stream
    from bi_etl_and_integration_spark.operators.dedup import (
        MinhashIndex, MinhashParams)

    base = "the quick brown fox jumps over the lazy dog " * 5
    other = "completely different text about spark aggregation " * 5
    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "index")
    out = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")
    DOCS = "doc_id long, text string"

    b1 = rows([(0, base + "corpus one"), (2, other)], DOCS)
    b1.write.parquet(src)
    kw = dict(index_dir=index_dir, survivors_dir=out,
              checkpoint_dir=ckpt, num_hashes=32, bands=16,
              jaccard_threshold=0.5)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    writer = dedup_stream(stream, **kw)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {0, 2}

    # batch 2: 5 near-dups 0 (cross-batch), 7 near-dups 5 (intra,
    # greedy keep-first drops 7 even though 5 itself is dropped? no -
    # greedy drops ids that pair with a SMALLER id in the same batch;
    # 5 is dropped by the INDEX probe, 7 by the intra pair (5,7)),
    # 9 is fresh and survives
    b2 = rows([(5, base + "batch copy"), (7, base + "batch copy two"),
               (9, "a genuinely novel document " * 5)], DOCS)
    b2.write.mode("append").parquet(src)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {0, 2, 9}

    params = MinhashParams(32, 16, 3, 42, 1)
    tables = _index_tables(spark, index_dir)
    idx = MinhashIndex(*(t.read() for t in tables), params)
    assert idx is not None and idx.params == params
    assert ({r["id"] for r in idx.shingles.select("id").collect()}
            == {0, 2, 9})

    # replay idempotence: re-apply the last epoch by hand (the
    # foreachBatch replay shape) - survivor set and index unchanged
    last = _latest_epoch(tables[1])
    from bi_etl_and_integration_spark.streaming import dedup as sd
    # drive the same logic through the public pieces instead of the
    # closure: probe index BEFORE the last epoch, recompute survivors
    prior = MinhashIndex(*(t.read(t._version_before(last))
                           for t in tables), params)
    from bi_etl_and_integration_spark.operators.dedup import (
        minhash_lookup)
    kept = sd._intra_batch_survivors(b2, "text", "doc_id", params, 0.5)
    dup = minhash_lookup(kept, prior, "text", "doc_id",
                         jaccard_threshold=0.5)
    kept = kept.join(dup.select(F.col("id_a").alias("doc_id"))
                     .distinct(), "doc_id", "left_anti")
    assert {r["doc_id"] for r in kept.collect()} == {9}


def test_compact_minhash_index_preserves_lookup(spark, rows, tmp_path):
    """Compacting both index tables (SnapshotTable.compact) folds every
    epoch's files into one: lookup results are identical before and
    after, and the compacted version keeps the newest epoch, so a
    replay of that epoch — the only one a resumed stream could replay
    — still probes the untouched pre-epoch version."""
    from bi_etl_and_integration_spark.operators.dedup import (
        MinhashIndex, MinhashParams, minhash_lookup)
    from bi_etl_and_integration_spark.streaming.dedup import dedup_stream

    base = "the quick brown fox jumps over the lazy dog " * 5
    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "index")
    DOCS = "doc_id long, text string"
    b1 = rows([(0, base + "one"), (2, "spark shuffles partitions " * 5)],
              DOCS)
    b1.write.parquet(src)
    writer = dedup_stream(
        spark.readStream.schema(b1.schema).parquet(src),
        index_dir=index_dir, survivors_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_hashes=32, bands=16, jaccard_threshold=0.5)
    for batch in ([(4, "a novel document entirely " * 5)],
                  [(6, "yet another unrelated corpus slice " * 5)]):
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows(batch, DOCS).write.mode("append").parquet(src)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    params = MinhashParams(32, 16, 3, 42, 1)
    tables = _index_tables(spark, index_dir)
    probe = rows([(9, base + "probe copy")], DOCS)
    res = lambda: sorted(  # noqa: E731
        (r["id_a"], r["id_b"], r["jaccard_sim"])
        for r in minhash_lookup(
            probe, MinhashIndex(*(t.read() for t in tables), params),
            "text", "doc_id", jaccard_threshold=0.5).collect())
    before = res()
    assert before and before[0][1] == 0
    for t in tables:
        t.compact()
    assert [_latest_epoch(t) for t in tables] == [2, 2]
    assert res() == before
    shingles = tables[1]
    assert len(_commit_dirs(shingles)) == 1
    assert ({r["id"] for r in shingles.read().select("id").collect()}
            == {0, 2, 4, 6})
    # a replay of the newest epoch probes the pre-epoch version, which
    # still holds exactly the rows of epochs {0, 1}
    assert ({r["id"] for r in shingles.read(shingles._version_before(2))
             .select("id").collect()} == {0, 2, 4})
    # idempotent re-run
    for t in tables:
        t.compact()
    assert res() == before


def test_compact_then_resume_replays_uncommitted_epoch(spark, rows,
                                                       tmp_path):
    """The supported stop -> compact -> resume cycle, under the WORST
    crash alignment (ADVICE r6): the stream stopped after the final
    batch's sink writes landed but BEFORE its checkpoint commit, so on
    resume Structured Streaming REPLAYS that batch.  Compaction must
    leave the replayable (newest) epoch's prior state readable: the
    replay's probe must see the full history (its cross-batch drop
    decisions unchanged) and its skipped commits must not disturb the
    compacted index."""
    import os as _os

    from bi_etl_and_integration_spark.operators.dedup import (
        MinhashIndex, MinhashParams)
    from bi_etl_and_integration_spark.streaming.dedup import dedup_stream

    base = "the quick brown fox jumps over the lazy dog " * 5
    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "index")
    out = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")
    DOCS = "doc_id long, text string"

    b1 = rows([(0, base + "corpus one"),
               (2, "completely different text about spark " * 5)], DOCS)
    b1.write.parquet(src)
    writer = dedup_stream(
        spark.readStream.schema(b1.schema).parquet(src),
        index_dir=index_dir, survivors_dir=out, checkpoint_dir=ckpt,
        num_hashes=32, bands=16, jaccard_threshold=0.5)
    # epoch 1: a fresh doc; epoch 2: near-dup of epoch-0 survivor 0
    # (cross-batch drop) + a fresh doc
    for batch in ([(4, "a novel document entirely " * 5)],
                  [(5, base + "late copy"),
                   (9, "a genuinely new final document " * 5)]):
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows(batch, DOCS).write.mode("append").parquet(src)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert ({r["doc_id"] for r in spark.read.parquet(out).collect()}
            == {0, 2, 4, 9})

    # crash alignment: epoch 2's writes are on disk but its commit is
    # gone -> the resumed stream will replay batch 2 (the .crc sidecar
    # of Hadoop's local checksum FS must go too, or the replayed
    # commit's atomic rename collides on it)
    _os.remove(_os.path.join(ckpt, "commits", "2"))
    crc = _os.path.join(ckpt, "commits", ".2.crc")
    if _os.path.exists(crc):
        _os.remove(crc)

    tables = _index_tables(spark, index_dir)
    for t in tables:
        t.compact()
    assert [_latest_epoch(t) for t in tables] == [2, 2]

    q = writer.start()                     # resume: replays batch 2
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # replay reached the same decisions: 5 still dropped (the probe
    # saw the compacted prior history), 9 still kept, no double rows
    surv = spark.read.parquet(out).collect()
    assert sorted(r["doc_id"] for r in surv) == [0, 2, 4, 9]
    params = MinhashParams(32, 16, 3, 42, 1)
    idx = MinhashIndex(*(t.read() for t in tables), params)
    assert ({r["id"] for r in idx.shingles.select("id").collect()}
            == {0, 2, 4, 9})
    # the replay committed nothing: the compacted version is still the
    # latest, each id exactly once
    assert tables[1].history()[-1]["operation"] == "compact"
    assert sorted(r["id"] for r in idx.shingles.select("id")
                  .collect()) == [0, 2, 4, 9]

    # and the resumed stream keeps deduplicating against compacted
    # history: a near-dup of the epoch-1 survivor (now inside the
    # compacted files) is dropped, a fresh doc survives
    rows([(11, "a novel document entirely " * 5 + "tail"),
          (12, "post-resume brand new content " * 5)], DOCS) \
        .write.mode("append").parquet(src)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r["doc_id"] for r in
                  spark.read.parquet(out).collect()) == [0, 2, 4, 9, 12]


def test_dedup_stream_replays_crash_between_index_commits(
        spark, rows, tmp_path, monkeypatch):
    """A crash between a micro-batch's buckets commit and its shingles
    commit replays to the same survivors and the same index as an
    uninterrupted run: the replay probes the pre-epoch versions, skips
    the buckets commit its epoch already recorded, and commits only
    the missing shingles."""
    import pytest

    from bi_etl_and_integration_spark.sources.snapshots import (
        SnapshotTable)
    from bi_etl_and_integration_spark.streaming.dedup import dedup_stream

    base = "the quick brown fox jumps over the lazy dog " * 5
    DOCS = "doc_id long, text string"
    batches = [
        [(0, base + "one"), (2, "spark shuffles partitions " * 5)],
        # 4 near-dups epoch-0 survivor 0; 5 is fresh
        [(4, base + "late copy"), (5, "a genuinely novel document " * 5)],
    ]
    real_commit = SnapshotTable._commit

    def crash_before_shingles(self, *args, **kwargs):
        if self.path.endswith("shingles") and kwargs.get("epoch") == 1:
            raise RuntimeError("crash between the index commits")
        return real_commit(self, *args, **kwargs)

    def run(tag, crash):
        src = str(tmp_path / f"src_{tag}")
        index_dir = str(tmp_path / f"index_{tag}")
        out = str(tmp_path / f"out_{tag}")
        rows(batches[0], DOCS).write.parquet(src)
        writer = dedup_stream(
            spark.readStream.schema(DOCS).parquet(src),
            index_dir=index_dir, survivors_dir=out,
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            num_hashes=32, bands=16, jaccard_threshold=0.5)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows(batches[1], DOCS).write.mode("append").parquet(src)
        tables = _index_tables(spark, index_dir)
        if crash:
            monkeypatch.setattr(SnapshotTable, "_commit",
                                crash_before_shingles)
            q = writer.start()
            try:
                with pytest.raises(Exception):
                    q.processAllAvailable()
            finally:
                q.stop()
                monkeypatch.undo()
            assert [_latest_epoch(t) for t in tables] == [1, 0]
        q = writer.start()                 # replays epoch 1 after a crash
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return tables, out

    ref_tables, out_ref = run("ref", False)
    tables, out = run("crash", True)
    survivors = lambda d: sorted(  # noqa: E731
        r["doc_id"] for r in spark.read.parquet(d).collect())
    assert survivors(out) == survivors(out_ref) == [0, 2, 5]
    assert [len(t.versions()) for t in tables] == [2, 2]
    for t, ref in zip(tables, ref_tables):
        assert _latest_epoch(t) == 1
        cols = [c for c in ref.read().columns if c != "__hs"]
        got = sorted(tuple(r) for r in t.read().select(cols).collect())
        assert got == sorted(tuple(r) for r in
                             ref.read().select(cols).collect())


def test_dedup_stream_live_compaction(spark, rows, tmp_path):
    """LIVE-safe compaction (VERDICT r7 item 6): compact_every=2 runs
    compaction INSIDE foreachBatch, after the epoch's writes — safe
    with no stop-the-world because micro-batches are serialized, so
    no concurrent index reader can exist at delete time.  The run's
    survivors must equal a reference run with compaction off, the
    epoch inventory must stay bounded, and a cross-batch probe must
    still match against pre-compaction history."""
    import pytest

    from bi_etl_and_integration_spark.operators.dedup import (
        MinhashIndex, MinhashParams, minhash_lookup)
    from bi_etl_and_integration_spark.streaming.dedup import dedup_stream

    base = "the quick brown fox jumps over the lazy dog " * 5
    DOCS = "doc_id long, text string"
    batches = [
        [(0, base + "one"), (2, "spark shuffles partitions " * 5)],
        [(4, "a novel document entirely " * 5)],
        [(6, "yet another unrelated corpus slice " * 5)],
        # near-dups epoch-0 survivor 0: must be dropped by a probe
        # that now reads COMPACTED history
        [(8, base + "late copy"), (9, "fresh final content " * 5)],
    ]

    def run(tag, compact_every):
        src = str(tmp_path / f"src_{tag}")
        index_dir = str(tmp_path / f"index_{tag}")
        out = str(tmp_path / f"out_{tag}")
        rows(batches[0], DOCS).write.parquet(src)
        writer = dedup_stream(
            spark.readStream.schema("doc_id long, text string")
            .parquet(src),
            index_dir=index_dir, survivors_dir=out,
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            num_hashes=32, bands=16, jaccard_threshold=0.5,
            compact_every=compact_every)
        for nxt in batches[1:] + [None]:
            q = writer.start()
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            if nxt is not None:
                rows(nxt, DOCS).write.mode("append").parquet(src)
        return src, index_dir, out

    _, idx_ref, out_ref = run("ref", None)
    _, idx_live, out_live = run("live", 2)
    ref = {r["doc_id"] for r in spark.read.parquet(out_ref).collect()}
    live = {r["doc_id"] for r in spark.read.parquet(out_live).collect()}
    assert live == ref == {0, 2, 4, 6, 9}     # 8 dropped cross-batch

    # live index: the four epochs' files compacted down (epoch 2's
    # in-batch compaction merged {0,1,2}, epoch 3 appended); same rows
    params = MinhashParams(32, 16, 3, 42, 1)
    live_sh, ref_sh = (_index_tables(spark, d)[1]
                       for d in (idx_live, idx_ref))
    sh = live_sh.read()
    live_epochs, ref_epochs = _commit_dirs(live_sh), _commit_dirs(ref_sh)
    assert len(live_epochs) < len(ref_epochs) == 4
    assert ({r["id"] for r in sh.select("id").collect()}
            == {0, 2, 4, 6, 9})
    # post-run probe equality across both indexes
    probe = rows([(99, base + "probe copy")], DOCS)
    def hits(idx_dir):
        return sorted(
            (r["id_a"], r["id_b"]) for r in minhash_lookup(
                probe, MinhashIndex(*(t.read() for t in
                                      _index_tables(spark, idx_dir)),
                                    params),
                "text", "doc_id", jaccard_threshold=0.5).collect())
    assert hits(idx_live) == hits(idx_ref) == [(99, 0)]

    with pytest.raises(ValueError, match="compact_every"):
        dedup_stream(
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(tmp_path / "src_ref")),
            index_dir=str(tmp_path / "i2"),
            survivors_dir=str(tmp_path / "o2"),
            checkpoint_dir=str(tmp_path / "c2"), compact_every=1)


def test_dedup_stream_reader_snapshot_survives_live_compaction(
        spark, rows, tmp_path):
    """A reader that holds a snapshot of the index across a live
    compaction (compact_every=2) reads the same rows afterwards: the
    compaction commits a new version and deletes nothing."""
    from bi_etl_and_integration_spark.streaming.dedup import dedup_stream

    DOCS = "doc_id long, text string"
    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "index")
    rows([(0, "the quick brown fox jumps over the lazy dog " * 5),
          (2, "spark shuffles partitions " * 5)], DOCS).write.parquet(src)
    writer = dedup_stream(
        spark.readStream.schema(DOCS).parquet(src),
        index_dir=index_dir, survivors_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"), num_hashes=32, bands=16,
        jaccard_threshold=0.5, compact_every=2)

    def run(batch):
        if batch:
            rows(batch, DOCS).write.mode("append").parquet(src)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(None)                                          # epoch 0
    run([(4, "a novel document entirely " * 5)])       # epoch 1
    shingles = _index_tables(spark, index_dir)[1]
    held = shingles.read()
    before = sorted(r["id"] for r in held.select("id").collect())
    assert before == [0, 2, 4]
    run([(6, "yet another unrelated corpus slice " * 5)])  # compacts
    assert shingles.history()[-1]["operation"] == "compact"
    assert sorted(r["id"] for r in held.select("id").collect()) == before



def test_dedup_stream_vacuum_between_runs_keeps_replay_state(
        spark, rows, tmp_path):
    """The storage-reclaim cycle for a compacting stream: stop ->
    vacuum(keep_last=3) on both index tables -> resume, under the crash
    alignment where the resumed stream REPLAYS the newest (compacting)
    epoch.  Vacuum deletes the copies that only pre-compaction versions
    name, and the replay still probes the version before its epoch: the
    near-dup it carries is dropped again."""
    from bi_etl_and_integration_spark.streaming.dedup import dedup_stream

    base = "the quick brown fox jumps over the lazy dog " * 5
    DOCS = "doc_id long, text string"
    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "index")
    out = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")
    rows([(0, base + "one"), (2, "spark shuffles partitions " * 5)],
         DOCS).write.parquet(src)
    writer = dedup_stream(
        spark.readStream.schema(DOCS).parquet(src),
        index_dir=index_dir, survivors_dir=out, checkpoint_dir=ckpt,
        num_hashes=32, bands=16, jaccard_threshold=0.5, compact_every=2)

    def run():
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()                                                     # epoch 0
    for batch in ([(4, "a novel document entirely " * 5)],
                  [(6, "yet another unrelated corpus slice " * 5)],
                  [(7, "a third fresh slice of the crawl " * 5)],
                  # near-dup of epoch-0 survivor 0, compacted history
                  [(8, base + "late copy"),
                   (9, "fresh final content " * 5)]):
        rows(batch, DOCS).write.mode("append").parquet(src)
        run()                                # epochs 1..4; 2, 4 compact
    survivors = lambda: sorted(  # noqa: E731
        r["doc_id"] for r in spark.read.parquet(out).collect())
    assert survivors() == [0, 2, 4, 6, 7, 9]

    # epoch 4's commits landed but its checkpoint commit did not
    os.remove(os.path.join(ckpt, "commits", "4"))
    crc = os.path.join(ckpt, "commits", ".4.crc")
    if os.path.exists(crc):
        os.remove(crc)
    tables = _index_tables(spark, index_dir)
    for t in tables:
        # the epoch 0, 1 and 2 appends: named only by versions before
        # the retained tail (epoch 3's append, epoch 4's append and its
        # compaction)
        assert len(t.vacuum(keep_last=3)) == 3
        assert len(os.listdir(os.path.join(t.path, "data"))) == 4
    run()                                       # resume: replays epoch 4
    assert survivors() == [0, 2, 4, 6, 7, 9]
    shingles = tables[1]
    assert (sorted(r["id"] for r in shingles.read().select("id").collect())
            == [0, 2, 4, 6, 7, 9])

def test_dedup_stream_releases_batch_caches(spark, rows, tmp_path):
    """Each micro-batch's caches — the batch, its survivors and the
    shingle tables the dedup and lookup operators cache — end with the
    batch: the persistent-RDD set is back at its baseline after every
    one of three micro-batches."""
    import gc
    import time

    from bi_etl_and_integration_spark.streaming.dedup import dedup_stream

    jsc = spark.sparkContext._jsc

    def leaked():
        deadline = time.monotonic() + 10
        while (set(jsc.getPersistentRDDs().keySet()) - before
               and time.monotonic() < deadline):
            gc.collect()
            spark._jvm.System.gc()
            time.sleep(0.2)
        return set(jsc.getPersistentRDDs().keySet()) - before

    text = "the quick brown fox jumps over the lazy dog " * 5
    src = str(tmp_path / "src")
    DOCS = "doc_id long, text string"
    first = rows([(0, text + "batch 0"), (1, "novel document zero " * 5)],
                 DOCS)
    first.write.parquet(src)
    writer = dedup_stream(
        spark.readStream.schema(first.schema).parquet(src),
        index_dir=str(tmp_path / "index"),
        survivors_dir=str(tmp_path / "survivors"),
        checkpoint_dir=str(tmp_path / "ckpt"), num_hashes=32, bands=16,
        jaccard_threshold=0.5)
    before = set(jsc.getPersistentRDDs().keySet())
    for i in range(3):
        if i:
            rows([(10 * i, text + f"batch {i}"),
                  (10 * i + 1, f"novel document {i} " * 5)],
                 DOCS).write.mode("append").parquet(src)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert leaked() == set(), f"micro-batch {i}"
    got = {r["doc_id"] for r in
           spark.read.parquet(str(tmp_path / "survivors")).collect()}
    assert got == {0, 1, 11, 21}
