"""Unit tests: fuzzy matching / term operators (SURVEY.md §2.8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators import fuzzy as fz


def test_similarity_bounds(rows):
    df = rows([("abc", "abc"), ("abc", "xyz"), ("abc", "abd")],
              "a string, b string")
    out = df.select(fz.similarity(F.col("a"), F.col("b")).alias("s")).collect()
    sims = [r["s"] for r in out]
    assert sims[0] == 1.0
    assert sims[1] == 0.0
    assert 0.0 < sims[2] < 1.0


def test_fuzzy_lookup_keeps_best_match(rows):
    dirty = rows([(1, "jonathan")], "id int, name string")
    ref = rows([("jonatan",), ("jon",), ("zachary",)], "clean string")
    out = fz.fuzzy_lookup(dirty, ref, "name", "clean",
                          min_similarity=0.4).collect()
    assert len(out) == 1  # keep_best: exactly one row per input row
    assert out[0]["clean"] == "jonatan"
    assert out[0]["_similarity"] > 0.8


def test_fuzzy_lookup_keeps_duplicate_input_rows(rows):
    """keep_best is one row per input ROW, not per distinct row value:
    two identical input rows each keep their best match."""
    dirty = rows([(1, "jonathan"), (1, "jonathan"), (2, "zach")],
                 "id int, name string")
    ref = rows([("jonatan",), ("zachary",)], "clean string")
    out = fz.fuzzy_lookup(dirty, ref, "name", "clean",
                          min_similarity=0.4).collect()
    assert sorted((r["id"], r["clean"]) for r in out) == [
        (1, "jonatan"), (1, "jonatan"), (2, "zachary")]
    assert "__row" not in out[0].asDict()


def test_fuzzy_lookup_accepts_map_columns(rows):
    """A map payload column rides along: keep_best never orders by
    the input's values (maps are not orderable)."""
    dirty = rows([(1, "jonathan", {"src": 1})],
                 "id int, name string, tags map<string,int>")
    ref = rows([("jonatan",), ("jon",)], "clean string")
    out = fz.fuzzy_lookup(dirty, ref, "name", "clean",
                          min_similarity=0.4).collect()
    assert [(r["id"], r["clean"], r["tags"]) for r in out] == [
        (1, "jonatan", {"src": 1})]


def test_fuzzy_lookup_below_threshold_drops(rows):
    dirty = rows([(1, "aaaa")], "id int, name string")
    ref = rows([("azzz",)], "clean string")
    out = fz.fuzzy_lookup(dirty, ref, "name", "clean", min_similarity=0.9)
    assert out.count() == 0


def test_fuzzy_grouping_transitive_clusters(rows):
    """a~b and b~c must land in ONE cluster even if a!~c directly
    (connected components, the SSIS Fuzzy Grouping contract)."""
    df = rows([(1, "abcdef"), (2, "abcdeX"), (3, "abcdXX"), (9, "zzzzzz")],
              "k int, name string")
    out = fz.fuzzy_grouping(df, "k", "name", min_similarity=0.6).collect()
    by_key = {r["_key_in"]: r for r in out}
    assert by_key[1]["_key_out"] == 1
    assert by_key[2]["_key_out"] == 1
    assert by_key[3]["_key_out"] == 1  # transitive via 2
    assert by_key[9]["_key_out"] == 9  # singleton
    assert by_key[1]["_score"] == 1.0  # canonical scores 1.0


def test_term_extraction_stopwords_and_length(rows):
    df = rows([(1, "the spark engine and the spark optimizer"),
               (2, "engine tuning")], "id int, text string")
    out = {r["term"]: r["n"] for r in
           fz.term_extraction(df, "text", min_len=5).collect()}
    assert out == {"spark": 2, "engine": 2, "optimizer": 1, "tuning": 1}
    # "the"/"and" are stopworded, "spark" counted across docs


def test_term_lookup(rows):
    df = rows([(1, "spark spark flink"), (2, "nothing relevant")],
              "id int, text string")
    terms = rows([("spark",), ("flink",)], "term string")
    out = {r["id"]: r["n_term_hits"]
           for r in fz.term_lookup(df, "text", terms).collect()}
    assert out == {1: 3}  # doc 2 has zero hits -> absent


def test_tokenize(rows):
    df = rows([("Hello, World!  Foo-bar",)], "t string")
    toks = df.select(fz.tokenize("t").alias("x")).collect()[0]["x"]
    assert toks == ["hello", "world", "foo", "bar"]


def _components(edges, monkeypatch, small_graph_edges: int) -> dict:
    monkeypatch.setattr(fz, "_SMALL_GRAPH_EDGES", small_graph_edges)
    return {r["id"]: r["component"]
            for r in fz.connected_components(edges).collect()}


def test_connected_components_star(rows, monkeypatch):
    """Large/small-star CC (distributed path FORCED via a 0-edge
    driver limit): a long chain (worst case for label propagation)
    plus a separate pair and a ring all resolve to the min id of
    their component."""
    chain = [(i, i + 1) for i in range(1, 8)]          # 1-2-...-8
    ring = [(20, 21), (21, 22), (22, 20)]
    pair = [(40, 41)]
    edges = rows(chain + ring + pair, "src bigint, dst bigint")
    comp = _components(edges, monkeypatch, 0)
    assert all(comp[i] == 1 for i in range(1, 9))
    assert all(comp[i] == 20 for i in (20, 21, 22))
    assert comp[40] == 40 and comp[41] == 40


def test_connected_components_duplicate_and_reversed_edges(rows,
                                                           monkeypatch):
    edges = rows([(2, 1), (1, 2), (2, 3), (3, 1)], "src int, dst int")
    for thr in (0, 100):        # distributed and driver-local paths
        assert _components(edges, monkeypatch, thr) == {1: 1, 2: 1, 3: 1}


def test_connected_components_local_matches_distributed(rows, monkeypatch):
    """The driver-local union-find fast path returns exactly the
    distributed fixpoint — same ids, same min-id components, same
    schema — on a graph mixing chains, rings, dups, and reversals."""
    import random
    rnd = random.Random(7)
    edges_py = [(i, i + 1) for i in range(1, 30)]           # chain
    edges_py += [(50 + i, 50 + (i + 1) % 6) for i in range(6)]  # ring
    edges_py += [(rnd.randint(100, 130), rnd.randint(100, 130))
                 for _ in range(40)]                        # random blob
    edges_py += [(v, u) for u, v in edges_py[:10]]          # reversals
    edges = rows(edges_py, "src bigint, dst bigint")
    monkeypatch.setattr(fz, "_SMALL_GRAPH_EDGES", 0)
    dist = fz.connected_components(edges)
    monkeypatch.setattr(fz, "_SMALL_GRAPH_EDGES", 10_000)
    loc = fz.connected_components(edges)
    assert dist.schema == loc.schema
    assert ({(r["id"], r["component"]) for r in dist.collect()}
            == {(r["id"], r["component"]) for r in loc.collect()})


def test_connected_components_probe_respects_threshold(rows, monkeypatch):
    """An edge list larger than the threshold takes the distributed
    path (the probe must not silently truncate the graph)."""
    edges = rows([(i, i + 1) for i in range(1, 12)],
                 "src bigint, dst bigint")
    comp = _components(edges, monkeypatch, 5)
    assert all(comp[i] == 1 for i in range(1, 13))


def test_connected_components_raises_without_fixpoint(rows, monkeypatch):
    """A star loop that has not converged within its round budget
    raises instead of returning partial labels (a 64-node chain needs
    more than one round)."""
    import pytest
    edges = rows([(i, i + 1) for i in range(1, 64)],
                 "src bigint, dst bigint")
    monkeypatch.setattr(fz, "_STAR_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="no fixpoint"):
        _components(edges, monkeypatch, 0)


def test_fuzzy_grouping_distributed_matches_local(rows, monkeypatch):
    """The forced large/small-star loop (driver limit 0) and the
    driver-local union-find (limit 100) give the same clusters."""
    df = rows([(1, "abcdef"), (2, "abcdeX"), (3, "abcdXX"), (9, "zzzzzz")],
              "k int, name string")
    expected = {1: 1, 2: 1, 3: 1, 9: 9}
    for thr in (0, 100):
        monkeypatch.setattr(fz, "_SMALL_GRAPH_EDGES", thr)
        got = {r["_key_in"]: r["_key_out"]
               for r in fz.fuzzy_grouping(
                   df, "k", "name", min_similarity=0.6).collect()}
        assert got == expected, thr


def test_fuzzy_grouping_releases_internal_edges(spark, rows, monkeypatch):
    """Repeated calls that build their own pair set must not leave the
    persisted edge set behind (ADVICE r8's probe persist is released
    once the labels exist), on either CC path."""
    import gc
    import time

    df = rows([(1, "abcdef"), (2, "abcdeX"), (3, "abcdXX"), (9, "zzzzzz")],
              "k int, name string")
    jsc = spark.sparkContext._jsc

    def persistent():
        return set(jsc.getPersistentRDDs().keySet())

    for thr in (0, 100):
        monkeypatch.setattr(fz, "_SMALL_GRAPH_EDGES", thr)
        base = persistent()
        for _ in range(3):
            out = fz.fuzzy_grouping(df, "k", "name", min_similarity=0.6)
            assert out.count() == 4
        del out
        # the star rounds' localCheckpoint blocks are owned by the
        # ContextCleaner: drop the last references and let it run
        deadline = time.monotonic() + 30
        while persistent() - base and time.monotonic() < deadline:
            gc.collect()
            spark._jvm.System.gc()
            time.sleep(0.5)
        assert persistent() - base == set(), thr


def test_local_components_string_ids(rows):
    """String ids: Python min must agree with Spark's binary-UTF8
    ordering (code-point comparison — identical by construction)."""
    edges = rows([("beta", "alpha"), ("beta", "gamma"), ("zz", "zy")],
                 "src string, dst string")
    comp = {r["id"]: r["component"]
            for r in fz.connected_components(edges).collect()}
    assert comp == {"alpha": "alpha", "beta": "alpha", "gamma": "alpha",
                    "zz": "zy", "zy": "zy"}
