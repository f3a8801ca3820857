"""Unit tests: relational operators (SURVEY.md §2.3, §2.4, §2.7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators import relational as rel


def ids(df, col="id"):
    return sorted(r[col] for r in df.collect())


def test_project_prunes_and_derives(rows):
    df = rows([(1, "a", 10.0), (2, "b", 20.0)], "id int, s string, v double")
    out = rel.project(df, "id", doubled=F.col("v") * 2)
    assert out.columns == ["id", "doubled"]
    assert ids(out) == [1, 2]


def test_conditional_split_first_match_wins(rows):
    df = rows([(1, 5), (2, 15), (3, 25), (4, None)], "id int, v int")
    streams = rel.conditional_split(
        df, {"small": F.col("v") < 10, "mid": F.col("v") < 20},
        default="rest")
    assert ids(streams["small"]) == [1]
    assert ids(streams["mid"]) == [2]          # 1 already matched "small"
    assert ids(streams["rest"]) == [3, 4]      # null predicate -> default
    # partition property: every row lands in exactly one stream
    total = sum(s.count() for s in streams.values())
    assert total == df.count()


def test_multicast_persists_until_released(rows, spark):
    rel.release_multicasts(spark)  # start from an empty session registry
    df = rows([(1,), (2,)], "id int")
    assert rel.multicast(df, 1) is df          # single consumer: no cache
    assert not df.storageLevel.useMemory
    fanned = rel.multicast(df, 2)
    assert fanned.storageLevel.useMemory or fanned.storageLevel.useDisk
    assert rel.release_multicasts(spark) == 1
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    assert rel.release_multicasts(spark) == 0


def test_conditional_split_no_default(rows):
    df = rows([(1, 5), (2, 50)], "id int, v int")
    streams = rel.conditional_split(df, {"lo": F.col("v") < 10},
                                    default=None)
    assert set(streams) == {"lo"}


def test_lookup_split_match_nomatch(rows):
    facts = rows([(1, 10), (2, 20), (3, 30)], "k int, v int")
    ref = rows([(1, "x"), (2, "y")], "k int, name string")
    hit, miss = rel.lookup_split(facts, ref, ["k"], "name")
    assert ids(hit, "k") == [1, 2]
    assert ids(miss, "k") == [3]


def test_cascade_lookup_unknown_member(rows):
    fact = rows([(1, 100), (2, 999)], "id int, bk int")
    dim = rows([(100, 7)], "bk int, sk int")
    out = rel.cascade_lookup(fact, [(dim, ["bk"], "sk", "dim_sk")])
    got = {r["id"]: r["dim_sk"] for r in out.collect()}
    assert got == {1: 7, 2: -1}


def test_semi_anti_join(rows):
    left = rows([(1,), (2,), (3,)], "k int")
    right = rows([(2,), (3,), (4,)], "k int")
    assert ids(rel.semi_join(left, right, ["k"]), "k") == [2, 3]
    assert ids(rel.anti_join(left, right, ["k"]), "k") == [1]


@pytest.mark.parametrize("direction,expect", [
    ("backward", {10: "a", 20: "b", 5: None}),
    ("forward", {10: "b", 20: None, 5: "a"}),
])
def test_asof_join(rows, direction, expect):
    left = rows([(1, 10), (1, 20), (1, 5)], "k int, ts int")
    right = rows([(1, 8, "a"), (1, 15, "b")], "k int, ts int, val string")
    out = rel.asof_join(left, right, "k", "ts", "ts", direction=direction)
    got = {r["ts"]: r["val"] for r in out.collect()}
    assert got == expect


def test_asof_join_exact_timestamp_matches(rows):
    left = rows([(1, 15)], "k int, ts int")
    right = rows([(1, 15, "exact")], "k int, ts int, val string")
    out = rel.asof_join(left, right, "k", "ts", "ts")
    assert out.collect()[0]["val"] == "exact"


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_join_right_order_tiebreak(rows, direction):
    """r12: right_order resolves (key, ts) ties inside the window —
    equivalent to pre-reducing the right side with groupBy + max but
    without the extra exchange.  The carried row must be the MAX by
    the tie column, including when the tie sits exactly at the asof
    boundary and when it is strictly before/after it."""
    left = rows([(1, 10), (1, 4)], "k int, ts int")
    right = rows([(1, 8, 1, "lo"), (1, 8, 3, "hi"), (1, 8, 2, "mid"),
                  (1, 2, 5, "early_hi"), (1, 2, 4, "early_lo"),
                  (1, 10, 7, "at_hi"), (1, 10, 6, "at_lo")],
                 "k int, ts int, ord int, val string")
    out = rel.asof_join(left, right, "k", "ts", "ts",
                        direction=direction, right_order=["ord"])
    got = {r["ts"]: (r["val"], r["ord"]) for r in out.collect()}
    if direction == "backward":
        # ts=10 matches the ts=10 tie group -> max ord wins;
        # ts=4 matches the ts=2 group -> max ord wins
        assert got == {10: ("at_hi", 7), 4: ("early_hi", 5)}
    else:
        # forward: ts=4 -> nearest ts>=4 is the ts=8 group, max ord
        assert got == {10: ("at_hi", 7), 4: ("hi", 3)}
    # equivalence with the groupBy+max pre-reduction on the same data
    pre = (right.groupBy("k", "ts")
           .agg(F.max(F.struct("ord", "val")).alias("s"))
           .select("k", "ts", F.col("s.ord").alias("ord"),
                   F.col("s.val").alias("val")))
    ref = rel.asof_join(left, pre, "k", "ts", "ts", direction=direction)
    assert sorted((r["ts"], r["val"], r["ord"]) for r in out.collect()) \
        == sorted((r["ts"], r["val"], r["ord"]) for r in ref.collect())


def test_set_ops(rows):
    a = rows([(1,), (2,), (2,), (3,)], "k int")
    b = rows([(2,), (3,), (4,)], "k int")
    assert ids(rel.union_all(a, b), "k") == [1, 2, 2, 2, 3, 3, 4]
    assert ids(rel.intersect(a, b), "k") == [2, 3]
    assert ids(rel.except_(a, b), "k") == [1]
    assert ids(rel.except_(a, b, all=True), "k") == [1, 2]


def test_top_k(rows):
    df = rows([(i, i * 1.0) for i in range(100)], "id int, v double")
    out = rel.top_k(df, 3, F.col("v").desc(), "id")
    assert [r["id"] for r in out.collect()] == [99, 98, 97]


def test_sample_bounds(rows):
    df = rows([(i,) for i in range(1000)], "id int")
    n = rel.sample(df, fraction=0.1, seed=42).count()
    assert 0 < n < 1000
    assert rel.sample(df, n=17).count() == 17
    with pytest.raises(ValueError):
        rel.sample(df)


def test_pivot_unpivot_roundtrip(rows):
    df = rows([(1, "a", 10.0), (1, "b", 20.0), (2, "a", 5.0)],
              "k int, cat string, v double")
    p = rel.pivot(df, ["k"], "cat", ["a", "b"], F.sum("v"))
    got = {r["k"]: (r["a"], r["b"]) for r in p.collect()}
    assert got == {1: (10.0, 20.0), 2: (5.0, None)}
    u = rel.unpivot(p, ["k"], ["a", "b"], "cat", "v")
    assert u.where(F.col("v").isNotNull()).count() == 3


def test_merge_sorted(rows):
    a = rows([(1,), (3,)], "k int")
    b = rows([(2,), (4,)], "k int")
    assert ids(rel.merge_sorted(a, b, "k"), "k") == [1, 2, 3, 4]


def test_stratified_sample_rates(rows):
    import pytest
    from bi_etl_and_integration_spark.operators import relational as rel
    df = rows([("a", i) for i in range(200)] + [("b", i) for i in range(20)],
              "k string, v int")
    out = rel.stratified_sample(df, "k", {"a": 0.1, "b": 1.0}, seed=7)
    got = {r["k"]: r["n"] for r in
           out.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["b"] == 20                   # keep-all stratum intact
    assert 0 < got["a"] < 100               # downsampled around 10%
    with pytest.raises(ValueError):
        rel.stratified_sample(df, "k", {"a": 1.5})


def test_exact_stratified_sample_deterministic_and_stable(rows):
    from bi_etl_and_integration_spark.operators.relational import (
        exact_stratified_sample)
    df = rows([(i, "s" + str(i % 3)) for i in range(60)],
              "id long, g string")
    a = {(r["g"], r["id"]) for r in
         exact_stratified_sample(df, "g", 5, "id").collect()}
    b = {(r["g"], r["id"]) for r in
         exact_stratified_sample(df, "g", 5, "id").collect()}
    assert a == b and len(a) == 15           # exactly k per stratum
    from collections import Counter
    assert all(v == 5 for v in Counter(g for g, _ in a).values())
    # growth stability: doubling the corpus can only REPLACE members
    # with smaller-hash newcomers, never reshuffle survivors' ranks —
    # the k winners of the union are the k smallest of the merged
    # hash-ordered lists, so any original member still present in the
    # bigger sample must have been in the smaller one
    big = rows([(i, "s" + str(i % 3)) for i in range(120)],
               "id long, g string")
    bset = {(r["g"], r["id"]) for r in
            exact_stratified_sample(big, "g", 5, "id").collect()}
    assert all(m in a for m in bset if m[1] < 60)


def test_weighted_sample_determinism_and_bias(rows):
    from bi_etl_and_integration_spark.operators.relational import (
        weighted_sample)
    # weights: ids 0..199, weight 100x higher for ids >= 150
    data = [(i, 100.0 if i >= 150 else 1.0) for i in range(200)]
    df = rows(data, "id long, w double")
    a = sorted(r["id"] for r in weighted_sample(df, "w", 20, "id").collect())
    b = sorted(r["id"] for r in weighted_sample(df, "w", 20, "id").collect())
    assert a == b and len(a) == 20           # deterministic, exactly k
    # heavy-weight stratum (25% of rows) should dominate the sample
    assert sum(1 for i in a if i >= 150) >= 14
    # zero/NULL weights never win
    z = rows([(1, 0.0), (2, None), (3, 1.0)], "id long, w double")
    assert [r["id"] for r in weighted_sample(z, "w", 3, "id").collect()] \
        == [3]
    # grouped: exactly k per group
    g = rows([(i, "g" + str(i % 2), 1.0) for i in range(40)],
             "id long, grp string, w double")
    got = weighted_sample(g, "w", 4, "id", by=["grp"]).collect()
    from collections import Counter
    assert Counter(r["grp"] for r in got) == {"g0": 4, "g1": 4}


def test_skyline_dominance(rows):
    from bi_etl_and_integration_spark.operators.relational import (
        skyline)
    import pytest
    # minimize cost, maximize quality
    df = rows([(1, 5.0, 5), (2, 5.0, 5),   # identical frontier rows:
               #                             neither strictly dominates
               #                             the other -> BOTH kept
               (3, 10.0, 5),               # dominated by 1/2 (cost)
               (4, 20.0, 9),               # best quality
               (5, 21.0, 9),               # dominated by 4
               (6, 5.0, 4),                # dominated by 1/2 (quality)
               (7, None, 9)],              # NULL dim -> excluded
              "id long, cost double, quality long")
    got = sorted(r["id"] for r in skyline(
        df, {"cost": "min", "quality": "max"}).collect())
    assert got == [1, 2, 4]
    with pytest.raises(ValueError, match="at least one"):
        skyline(df, {})
    with pytest.raises(ValueError, match="min/max"):
        skyline(df, {"cost": "down"})


def test_skyline_empty_and_sum_tie(rows, spark):
    from bi_etl_and_integration_spark.operators.relational import (
        skyline)
    # empty input (everything NULL-dropped) -> empty result, no crash
    df = rows([(1, None, 1)], "id long, cost double, q long")
    assert skyline(df, {"cost": "min", "q": "max"}).count() == 0
    # float sum tie around 2^53: j=(2^53, 0) dominates i=(2^53, 1) but
    # both row-sums round to 2^53 — the lexicographic tie-break must
    # still put the dominator first
    big = float(2 ** 53)
    df2 = rows([(1, big, 1.0), (2, big, 0.0)],
               "id long, a double, b double")
    got = sorted(r["id"] for r in skyline(
        df2, {"a": "min", "b": "min"}).collect())
    assert got == [2]
