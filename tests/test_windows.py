"""Unit tests: window operators (SURVEY.md §2.6)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators import windows as win


def test_limit_by(rows):
    df = rows([("a", i) for i in range(10)] + [("b", 1)], "k string, v int")
    out = win.limit_by(df, ["k"], [F.col("v").desc()], 3)
    got = sorted((r["k"], r["v"]) for r in out.collect())
    assert got == [("a", 7), ("a", 8), ("a", 9), ("b", 1)]


def test_limit_by_keeps_rank_col(rows):
    df = rows([("a", 2), ("a", 1)], "k string, v int")
    out = win.limit_by(df, ["k"], [F.col("v")], 2, rank_col="rn")
    assert {(r["v"], r["rn"]) for r in out.collect()} == {(1, 1), (2, 2)}


def test_latest_per_key(rows):
    # n=1 on a descending order: the latest row per key (SCD2 current
    # version, CDC Net mode)
    df = rows([(1, 10, "old"), (1, 20, "new"), (2, 5, "only")],
              "k int, ts int, v string")
    out = win.limit_by(df, ["k"], [F.col("ts").desc()], 1)
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "new", 2: "only"}


def test_scd2_windows_partition_the_timeline(rows):
    df = rows([(1, 100, "v1"), (1, 200, "v2"), (1, 300, "v3"), (2, 50, "x")],
              "k int, eff int, val string")
    out = win.scd2_windows(df, ["k"], "eff").collect()
    by_ver = {(r["k"], r["eff"]): r for r in out}
    # each version's end == next version's start; open version flagged
    assert by_ver[(1, 100)]["end_ts"] == 200
    assert by_ver[(1, 200)]["end_ts"] == 300
    assert by_ver[(1, 300)]["end_ts"] is None
    assert by_ver[(1, 300)]["is_current"]
    assert not by_ver[(1, 100)]["is_current"]
    assert by_ver[(2, 50)]["is_current"]


def test_running_sum(rows):
    df = rows([("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 5.0)],
              "k string, o int, v double")
    out = win.running(df, ["k"], [F.col("o")], run=F.sum("v"))
    got = {r["o"]: r["run"] for r in out.collect()}
    assert got == {1: 10.0, 2: 30.0, 3: 35.0}


def test_lag_lead(rows):
    df = rows([("a", 1), ("a", 2), ("a", 3)], "k string, v int")
    out = win.with_lag_lead(df, ["k"], [F.col("v")], "v")
    mid = [r for r in out.collect() if r["v"] == 2][0]
    assert mid["v_lag"] == 1 and mid["v_lead"] == 3


def test_ntile_buckets_partitioned_and_rejects_global(rows):
    import pytest
    df = rows([("a", i) for i in range(1, 9)] + [("b", 1)],
              "k string, v int")
    out = win.ntile_buckets(df, ["k"], [F.col("v")], 4, out_col="q")
    got = {(r["k"], r["v"]): r["q"] for r in out.collect()}
    assert got[("a", 1)] == 1 and got[("a", 8)] == 4
    assert got[("b", 1)] == 1
    with pytest.raises(ValueError):
        win.ntile_buckets(df, [], [F.col("v")], 4)


def test_running_range_follows_clock_not_rows(rows):
    import datetime as dt
    df = rows([("k", dt.date(2020, 1, 1), 1.0),
               ("k", dt.date(2020, 1, 15), 2.0),
               ("k", dt.date(2020, 3, 1), 4.0)],
              "k string, d date, v double")
    out = win.running_range(df, ["k"], "d", "v", interval="30 days")
    got = {r["d"].isoformat(): r["run"] for r in out.collect()}
    # Jan 15 sees Jan 1 (14 days back); Mar 1 sees neither
    assert got == {"2020-01-01": 1.0, "2020-01-15": 3.0,
                   "2020-03-01": 4.0}


def test_quantile_bins_global_equal_frequency(rows):
    import pytest
    from bi_etl_and_integration_spark.operators import windows as win
    df = rows([("r", float(i)) for i in range(1, 101)], "k string, v double")
    out = win.quantile_bins(df, "v", 4)
    counts = {r["bucket"]: r["n"] for r in
              out.groupBy("bucket").count().withColumnRenamed(
                  "count", "n").collect()}
    assert set(counts) == {1, 2, 3, 4}
    assert all(20 <= c <= 30 for c in counts.values()), counts
    # ties land in ONE bucket (the determinism NTILE can't give)
    tied = rows([("r", 5.0)] * 10 + [("r", 9.0)], "k string, v double")
    tb = win.quantile_bins(tied, "v", 2).collect()
    assert len({r["bucket"] for r in tb if r["v"] == 5.0}) == 1
    # approx path: same shape, sketch cutpoints
    ap = win.quantile_bins(df, "v", 4, approx=True).collect()
    assert {r["bucket"] for r in ap} == {1, 2, 3, 4}
    # NULL values get a NULL bucket, not a silent bucket 1
    withnull = rows([("r", 1.0), ("r", 2.0), ("r", None)],
                    "k string, v double")
    nb = {r["v"]: r["bucket"] for r in
          win.quantile_bins(withnull, "v", 2).collect()}
    assert nb[None] is None and nb[1.0] == 1 and nb[2.0] == 2
    with pytest.raises(ValueError):
        win.quantile_bins(df, "v", 1)


def test_forward_fill_locf(rows):
    from bi_etl_and_integration_spark.operators import windows as win
    df = rows([("a", 1, None), ("a", 2, 10.0), ("a", 3, None),
               ("a", 4, None), ("a", 5, 20.0), ("b", 1, None)],
              "k string, seq int, v double")
    out = win.forward_fill(df, ["k"], [F.col("seq")], ["v"])
    got = {(r["k"], r["seq"]): r["v_ff"] for r in out.collect()}
    assert got[("a", 1)] is None          # leading NULL: nothing to carry
    assert got[("a", 3)] == 10.0
    assert got[("a", 4)] == 10.0
    assert got[("a", 5)] == 20.0
    assert got[("b", 1)] is None          # fills never cross keys


def test_window_funnel_levels_and_window(rows):
    import datetime as dt
    from bi_etl_and_integration_spark.operators.windows import (
        window_funnel)
    t0 = dt.datetime(2024, 1, 1)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    data = [
        # u1: full chain inside the window
        (1, at(0), "view"), (1, at(10), "click"), (1, at(20), "buy"),
        # u2: click before view -> stuck at level 1
        (2, at(0), "click"), (2, at(10), "view"),
        # u3: chain only completes from the LATER view (greedy-earliest
        # would fail: buy@70 is outside 60m of view@0 but inside of
        # view@30) — the max-start DP must find it
        (3, at(0), "view"), (3, at(30), "view"),
        (3, at(40), "click"), (3, at(70), "buy"),
        # u4: same-timestamp chain counts (non-decreasing semantics)
        (4, at(0), "view"), (4, at(0), "click"),
        # u5: no step events at all -> absent from output
        (5, at(0), "error"),
    ]
    df = rows(data, "user_id long, ts timestamp, event_type string")
    out = {r["user_id"]: r["funnel_level"] for r in window_funnel(
        df, ["view", "click", "buy"], window="60 minutes").collect()}
    assert out == {1: 3, 2: 1, 3: 3, 4: 2}


def test_window_funnel_unbounded_and_validation(rows):
    import datetime as dt
    import pytest
    from bi_etl_and_integration_spark.operators.windows import (
        window_funnel)
    t0 = dt.datetime(2024, 1, 1)
    df = rows([(1, t0, "a"), (1, t0 + dt.timedelta(days=400), "b")],
              "user_id long, ts timestamp, event_type string")
    out = window_funnel(df, ["a", "b"]).collect()
    assert out[0]["funnel_level"] == 2       # no window: any gap ok
    with pytest.raises(ValueError, match="distinct"):
        window_funnel(df, ["a", "a"])
    with pytest.raises(ValueError, match="bad window"):
        window_funnel(df, ["a", "b"], window="soon")


def test_sessionize_gap_numbering(rows):
    import datetime as dt
    from bi_etl_and_integration_spark.operators.windows import (
        sessionize)
    t0 = dt.datetime(2024, 1, 1)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    df = rows([(1, 10, at(0)), (1, 11, at(10)), (1, 12, at(50)),
               (1, 13, at(55)), (2, 20, at(0))],
              "user_id long, event_id long, ts timestamp")
    out = {r["event_id"]: r["session_seq"] for r in sessionize(
        df, gap="30 minutes", order_tiebreak=["event_id"]).collect()}
    # 0 and 10 in session 1; 50 starts session 2 (gap 40m > 30m)
    assert out == {10: 1, 11: 1, 12: 2, 13: 2, 20: 1}
    import pytest
    with pytest.raises(ValueError, match="bad gap"):
        sessionize(df, gap="later")


def test_sequence_match_subsequence(rows):
    import datetime as dt
    from bi_etl_and_integration_spark.operators.windows import (
        sequence_match)
    t0 = dt.datetime(2024, 1, 1)

    def at(m):
        return t0 + dt.timedelta(minutes=m)

    df = rows(
        # user 1: v .. noise .. c .. p  -> match
        [(1, 1, at(0), "view"), (1, 2, at(1), "other"),
         (1, 3, at(2), "click"), (1, 4, at(3), "purchase"),
         # user 2: c before v, no p -> no match
         (2, 5, at(0), "click"), (2, 6, at(1), "view"),
         # user 3: pattern out of order (p v c) -> no match
         (3, 7, at(0), "purchase"), (3, 8, at(1), "view"),
         (3, 9, at(2), "click")],
        "user_id long, event_id long, ts timestamp, event_type string")
    out = {r["user_id"]: r["matched"] for r in sequence_match(
        df, ["view", "click", "purchase"],
        tiebreak=["event_id"]).collect()}
    assert out == {1: True, 2: False, 3: False}
    import pytest
    with pytest.raises(ValueError, match="empty"):
        sequence_match(df, [])


def test_sequence_match_repeated_steps(rows):
    import datetime as dt
    from bi_etl_and_integration_spark.operators.windows import (
        sequence_match)
    t0 = dt.datetime(2024, 1, 1)
    df = rows([(1, i, t0 + dt.timedelta(minutes=i), t)
               for i, t in enumerate(["view", "purchase", "view"])],
              "user_id long, event_id long, ts timestamp, "
              "event_type string")
    # needs two views before a purchase; stream has v p v
    out = sequence_match(df, ["view", "view", "purchase"],
                         tiebreak=["event_id"]).collect()
    assert out[0]["matched"] is False


def test_sequence_count_non_overlapping(rows):
    import datetime as dt
    from bi_etl_and_integration_spark.operators.windows import (
        sequence_count)
    t0 = dt.datetime(2024, 1, 1)
    # v p v v p p -> chains (0,1) and (2,4): 2 non-overlapping matches
    types = ["view", "purchase", "view", "view", "purchase", "purchase"]
    df = rows([(1, i, t0 + dt.timedelta(minutes=i), t)
               for i, t in enumerate(types)]
              + [(2, 99, t0, "view")],       # v only -> 0 matches
              "user_id long, event_id long, ts timestamp, "
              "event_type string")
    out = {r["user_id"]: r["n_matches"] for r in sequence_count(
        df, ["view", "purchase"], tiebreak=["event_id"]).collect()}
    assert out == {1: 2, 2: 0}


def test_transitions_counts(rows):
    import datetime as dt
    from bi_etl_and_integration_spark.operators.windows import (
        transitions)
    t0 = dt.datetime(2024, 1, 1)
    seq = {1: ["a", "b", "a", "b"], 2: ["a", "b"]}
    df = rows([(u, i, t0 + dt.timedelta(minutes=i), t)
               for u, ts in seq.items() for i, t in enumerate(ts)],
              "user_id long, event_id long, ts timestamp, "
              "event_type string")
    out = {(r["from_type"], r["to_type"]): r["n_transitions"]
           for r in transitions(df, tiebreak=["event_id"]).collect()}
    # user1: a->b, b->a, a->b; user2: a->b  => ab:3, ba:1
    assert out == {("a", "b"): 3, ("b", "a"): 1}


def test_moving_fixed_frame(rows):
    from pyspark.sql import functions as F
    from bi_etl_and_integration_spark.operators.windows import moving
    import pytest
    df = rows([(1, i, float(v)) for i, v in enumerate([1, 2, 3, 4])],
              "k long, seq long, v double")
    out = {r["seq"]: r["ms"] for r in moving(
        df, ["k"], [F.col("seq").asc()], 2,
        ms=F.sum("v")).collect()}
    assert out == {0: 1.0, 1: 3.0, 2: 5.0, 3: 7.0}
    with pytest.raises(ValueError, match=">= 1"):
        moving(df, ["k"], [F.col("seq").asc()], 0, ms=F.sum("v"))
