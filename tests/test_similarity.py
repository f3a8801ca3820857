"""Unit tests: embedding similarity search."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators import similarity as sim
from bi_etl_and_integration_spark.sources.snapshots import SnapshotTable

EMB = "vec_id long, embedding array<float>"


def _exact_assign(df, cents, vec_col="embedding", id_col="vec_id"):
    """Reference nearest-centroid assignment: a sequential double fold
    ``d += (x - y) * (x - y)`` per centroid, the lexicographic min of
    (distance, cid), and the minimum cid for a NULL or NaN-bearing
    embedding (the x30/x34 oracle rule)."""
    min_cid = min(c for c, _ in cents)
    out = {}
    for r in df.select(id_col, vec_col).collect():
        v = r[vec_col]
        if v is None or any(math.isnan(x) for x in v):
            out[r[id_col]] = min_cid
            continue
        best = None
        for cid, c in cents:
            d = 0.0
            for x, y in zip(v, c):
                d += (float(x) - float(y)) * (float(x) - float(y))
            if best is None or (d, cid) < best:
                best = (d, cid)
        out[r[id_col]] = best[1]
    return out


def test_cosine_similarity_known_values(rows):
    df = rows([([1.0, 0.0], [1.0, 0.0]),
               ([1.0, 0.0], [0.0, 1.0]),
               ([1.0, 0.0], [-1.0, 0.0]),
               ([1.0, 1.0], [1.0, 0.0])],
              "a array<float>, b array<float>")
    out = [r["s"] for r in df.select(
        sim.cosine_similarity_udf()(F.col("a"), F.col("b")).alias("s"))
        .collect()]
    assert out[0] == 1.0
    assert out[1] == 0.0
    assert out[2] == -1.0
    assert abs(out[3] - 1 / math.sqrt(2)) < 1e-9


def test_brute_force_topk_exact(rows):
    corpus = rows([(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]),
                   (4, [-1.0, 0.0])], EMB)
    queries = rows([(0, [1.0, 0.0])], "query_id long, embedding array<float>")
    out = sim.brute_force_topk(corpus, queries, k=2).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]


def test_brute_force_topk_multiple_queries(rows):
    corpus = rows([(i, [float(i == j) for j in range(4)])
                   for i in range(4)], EMB)
    queries = rows([(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
                   "query_id long, embedding array<float>")
    out = sim.brute_force_topk(corpus, queries, k=1).collect()
    got = {r["query_id"]: r["vec_id"] for r in out}
    assert got == {0: 0, 1: 1}


def test_brute_force_topk_guards_large_query_sets(rows):
    """The small-|Q| contract is mechanical: beyond max_query_rows the
    collect of the query side raises unless force=True — large query
    sets belong on the LSH/IVF joins."""
    import pytest
    corpus = rows([(1, [1.0, 0.0]), (2, [0.0, 1.0])], EMB)
    queries = rows([(i, [1.0, 0.0]) for i in range(5)],
                   "query_id long, embedding array<float>")
    with pytest.raises(ValueError, match="max_query_rows"):
        sim.brute_force_topk(corpus, queries, k=1, max_query_rows=3)
    forced = sim.brute_force_topk(corpus, queries, k=1,
                                  max_query_rows=3, force=True).collect()
    assert {r["query_id"] for r in forced} == set(range(5))
    assert all(r["vec_id"] == 1 for r in forced)


def test_topk_guards_duplicate_ids_and_query_cap(rows):
    """Every search collects its query batch through one guard: a
    repeated query id raises (two vectors under one id used to merge
    into one top-k list, silently dropping one query's neighbours),
    and pq_topk enforces the same max_query_rows cap as the others."""
    import pytest
    corpus = rows([(i, [math.cos(i), math.sin(i)]) for i in range(16)],
                  EMB)
    qschema = "query_id long, embedding array<float>"
    dup = rows([(0, [1.0, 0.0]), (0, [0.0, 1.0])], qschema)
    with pytest.raises(ValueError, match="duplicate query ids"):
        sim.brute_force_topk(corpus, dup, k=3)
    with pytest.raises(ValueError, match="duplicate query ids"):
        sim.brute_force_topk(corpus, dup, k=3, force=True)
    with pytest.raises(ValueError, match="duplicate query ids"):
        sim.pq_topk(corpus, dup, k=3, m=2, nbits=2)
    big = rows([(i, [1.0, 0.0]) for i in range(sim._MAX_QUERY_ROWS + 1)],
               qschema)
    with pytest.raises(ValueError, match="max_query_rows"):
        sim.pq_topk(corpus, big, k=3, m=2, nbits=2)


def test_ivf_topk_recovers_exact_match(rows):
    corpus = rows([(i, [math.cos(i), math.sin(i)]) for i in range(32)], EMB)
    queries = rows([(0, [math.cos(5), math.sin(5)])],
                   "query_id long, embedding array<float>")
    out = sim.ivf_topk(corpus, queries, k=3, nlist=4, n_probe=4).collect()
    # probing all lists makes it exact: vec 5 must rank first
    best = [r for r in out if r["rank"] == 1][0]
    assert best["vec_id"] == 5
    assert abs(best["cosine_sim"] - 1.0) < 1e-9


def test_ivf_topk_rejects_duplicate_query_ids(rows):
    """Two queries under one id used to merge into one top-k list (3
    rows for id 0, dropping neighbours 7 and 9 of the second query);
    ivf_topk joins its queries instead of collecting them, so the
    duplicate check fails the plan when it runs."""
    import pytest
    step = 2 * math.pi / 32
    corpus = rows([(i, [math.cos(i * step), math.sin(i * step)])
                   for i in range(32)], EMB)
    qschema = "query_id long, embedding array<float>"
    dup = rows([(0, [1.0, 0.0]), (0, [0.0, 1.0])], qschema)
    with pytest.raises(Exception, match="duplicate query ids"):
        sim.ivf_topk(corpus, dup, k=3, nlist=4, n_probe=4).collect()
    one = rows([(0, [1.0, 0.0]), (1, [0.0, 1.0])], qschema)
    got = sorted((r["query_id"], r["vec_id"]) for r in sim.ivf_topk(
        corpus, one, k=3, nlist=4, n_probe=4).collect())
    assert got == [(0, 0), (0, 1), (0, 31), (1, 7), (1, 8), (1, 9)]


def test_sign_buckets_udf_matches_expression_form(rows):
    """Reference: a test-local numpy sign-bit fold — bit i of a bucket
    id is set iff the vector's dot with random_hyperplanes plane i is
    >= 0."""
    import numpy as np
    vecs = [(i, [((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
            for i in range(20)]
    df = rows(vecs, EMB)

    def bucket(v, planes):
        bits = (np.asarray(planes) @ np.asarray(v)) >= 0
        return int(bits @ (1 << np.arange(len(planes))))

    planes = [sim.random_hyperplanes(8, 5, seed=s) for s in (1, 2)]
    udf = df.select(
        "vec_id",
        sim.sign_buckets_udf(5, [1, 2])(F.col("embedding"))
        .alias("ab"))
    want = {i: tuple(bucket(v, p) for p in planes) for i, v in vecs}
    got = {r["vec_id"]: tuple(r["ab"]) for r in udf.collect()}
    # fixture dots are far from zero, so BLAS order can't flip a sign
    assert got == want


def test_spherical_kmeans_balances_and_converges():
    """Clustered data, in both ``_lloyd`` modes: trained centroids land
    one-per-true-cluster (raw seed sampling can drop a cluster
    entirely), every list stays populated, the returned assignment is
    the nearest centroid, spherical centroids stay unit, and the
    result is deterministic for a fixed seed."""
    import numpy as np

    from bi_etl_and_integration_spark.operators.similarity import _lloyd
    rng = np.random.default_rng(3)
    anchors = np.eye(4)  # 4 orthogonal cluster directions
    x = np.vstack([a + rng.normal(0, 0.05, size=(50, 4))
                   for a in anchors])
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    init = x[np.random.default_rng(9).choice(len(x), size=4,
                                             replace=False)]
    for spherical in (True, False):
        c1, a1 = _lloyd(x, init, 8, spherical=spherical)
        c2, a2 = _lloyd(x, init, 8, spherical=spherical)
        assert np.allclose(c1, c2) and (a1 == a2).all()  # deterministic
        # each anchor direction is captured by exactly one centroid
        owners = {int(np.argmax(c1 @ a)) for a in anchors}
        assert owners == set(range(4))
        assert sorted(np.bincount(a1, minlength=4)) == [50] * 4
        d2 = ((x[:, None, :] - c1[None]) ** 2).sum(-1)
        assert (a1 == d2.argmin(1)).all()
        if spherical:
            assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)
    assert np.allclose(np.linalg.norm(init, axis=1), 1.0)  # not modified


def test_ivf_trained_recall_vs_brute_force(rows):
    """recall@1 of trained IVF vs exact brute force on clustered
    vectors: with k-means lists and n_probe=2 of 4 every query finds
    its true nearest neighbor."""
    import numpy as np
    rng = np.random.default_rng(11)
    anchors = np.eye(8)[:4]
    corpus = []
    i = 0
    for a in anchors:
        for _ in range(40):
            v = a + rng.normal(0, 0.05, size=8)
            corpus.append((i, [float(x) for x in v]))
            i += 1
    cdf = rows(corpus, "vec_id long, embedding array<double>")
    qdf = rows([(j, [float(x) for x in anchors[j]]) for j in range(4)],
               "query_id long, embedding array<double>")
    exact = {r["query_id"]: r["vec_id"] for r in
             sim.brute_force_topk(cdf, qdf, k=1).collect()}
    approx = {r["query_id"]: r["vec_id"] for r in
              sim.ivf_topk(cdf, qdf, k=1, nlist=4, n_probe=2,
                           train_iters=8).collect()}
    hits = sum(1 for q in exact if approx.get(q) == exact[q])
    assert hits == len(exact)


def test_pq_encode_shape_and_range(rows):
    import random as rnd
    r = rnd.Random(7)
    corpus = rows([(i, [r.gauss(0, 1) for _ in range(16)])
                   for i in range(64)], EMB)
    import numpy as np
    x = np.asarray([row["embedding"] for row in corpus.collect()],
                   dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    books = sim._pq_train(x, m=4, nbits=4, n_iter=3, seed=1)
    assert books.shape == (4, 16, 4)
    out = sim.pq_encode(corpus, books).collect()
    for row in out:
        code = row["pq_code"]
        assert len(code) == 4
        assert all(0 <= c < 16 for c in code)


def test_pq_train_rejects_bad_m():
    import numpy as np
    import pytest
    with pytest.raises(ValueError, match="not divisible"):
        sim._pq_train(np.zeros((10, 10)), m=3, nbits=2, n_iter=1, seed=0)


def test_pq_topk_recovers_clusters(rows):
    """Four well-separated clusters: every PQ neighbor of a query must
    come from the query's own cluster, and the planted exact twin must
    rank first (deterministic for the fixed seed)."""
    import random as rnd
    r = rnd.Random(3)
    dim, per = 16, 25
    centers = []
    for c in range(4):
        v = [0.0] * dim
        v[c * 4] = 10.0
        centers.append(v)
    data = []
    for c, ctr in enumerate(centers):
        for i in range(per):
            data.append((c * per + i,
                         [x + r.gauss(0, 0.05) for x in ctr]))
    corpus = rows(data, EMB)
    queries = rows([(c, centers[c]) for c in range(4)],
                   "query_id long, embedding array<float>")
    out = sim.pq_topk(corpus, queries, k=5, m=4, nbits=4,
                      train_size=100).collect()
    assert len(out) == 20
    for row in out:
        assert row["vec_id"] // per == row["query_id"], row


def test_pq_topk_recall_vs_brute_force(rows):
    """Recall@5 against the exact ranking on smooth structured data —
    deterministic given the fixed seeds; PQ with 8 bits/subspace on a
    curve this smooth should be near-exact."""
    import math as m_
    corpus = rows([(i, [m_.cos(i / 7.0 + j) for j in range(16)])
                   for i in range(120)], EMB)
    queries = rows([(q, [m_.cos(q * 13 / 7.0 + j) for j in range(16)])
                    for q in range(3)],
                   "query_id long, embedding array<float>")
    exact = sim.brute_force_topk(corpus, queries, k=5).collect()
    approx = sim.pq_topk(corpus, queries, k=5, m=4, nbits=8,
                         train_size=120).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hit = sum(1 for r in approx if r["vec_id"] in exact_sets[r["query_id"]])
    assert hit / len(approx) >= 0.6, hit


def test_kmeans_assign_argmin_and_ties(rows):
    from bi_etl_and_integration_spark.operators.similarity import (
        kmeans_assign)
    df = rows([(1, [0.0, 0.0]), (2, [10.0, 0.0]), (3, [5.0, 0.0])],
              "vec_id long, embedding array<double>")
    cents = [(0, [0.0, 0.0]), (1, [10.0, 0.0])]
    out = {r["vec_id"]: r["cluster"] for r in
           kmeans_assign(df, cents).collect()}
    assert out[1] == 0 and out[2] == 1
    assert out[3] == 0                       # exact tie: lower cid wins


def test_kmeans_fit_matches_numpy_lloyd(rows):
    import numpy as np
    from bi_etl_and_integration_spark.operators.similarity import (
        kmeans_assign, kmeans_fit)
    rng = np.random.RandomState(7)
    pts = np.vstack([rng.randn(20, 3) + [0, 0, 0],
                     rng.randn(20, 3) + [8, 8, 8]])
    df = rows([(i, [float(x) for x in pts[i]]) for i in range(40)],
              "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, 2, n_iter=4)
    # reference Lloyd with the same deterministic seeding
    ref = pts[:2].astype(float).copy()
    for _ in range(4):
        d = ((pts[:, None, :] - ref[None, :, :]) ** 2).sum(-1)
        lab = d.argmin(1)
        for c in range(2):
            if (lab == c).any():
                ref[c] = pts[lab == c].mean(0)
    got = np.array([v for _, v in cents])
    assert np.allclose(got, ref, atol=1e-9)
    # the two well-separated blobs split 20/20
    from collections import Counter
    sizes = Counter(r["cluster"] for r in
                    kmeans_assign(df, cents).collect())
    assert sorted(sizes.values()) == [20, 20]


def test_kmeans_fit_reseeds_duplicate_seeds(rows):
    """Repeated seed vectors: the k lowest ids are three copies of one
    point, so every row ties to centroid 0 and the other two clusters
    start empty.  Each is reseeded to the point farthest from its
    centroid, so the fit finds all three blobs instead of returning
    the first seed twice."""
    a, b, c = [0.0, 0.0], [10.0, 0.0], [5.0, 15.0]
    df = rows([(i, v) for i, v in enumerate([a] * 10 + [b] * 10
                                             + [c] * 10)],
              "vec_id long, embedding array<double>")
    cents = sim.kmeans_fit(df, 3)
    assert [cid for cid, _ in cents] == [0, 1, 2]
    assert sorted(v for _, v in cents) == sorted([a, b, c])


def test_rrf_fuse_ranks_and_missing_items(rows):
    from bi_etl_and_integration_spark.operators.similarity import (
        rrf_fuse)
    import pytest
    lex = rows([(1, 9.0), (2, 5.0), (3, 1.0)], "id long, s double")
    vec = rows([(2, 0.9), (4, 0.8)], "id long, s double")
    out = {r["id"]: r for r in
           rrf_fuse([(lex, "s"), (vec, "s")], id_col="id").collect()}
    # item 2: rank 2 lexically, rank 1 vectorially
    assert abs(out[2]["rrf_score"] - (1/62 + 1/61)) < 1e-15
    assert out[2]["n_lists"] == 2
    assert out[1]["n_lists"] == 1 and abs(out[1]["rrf_score"] - 1/61) < 1e-15
    assert out[4]["n_lists"] == 1            # only in the vector list
    # consensus item beats either single-list item
    top = sorted(out.values(), key=lambda r: -r["rrf_score"])[0]
    assert top["id"] == 2
    with pytest.raises(ValueError, match=">= 2"):
        rrf_fuse([(lex, "s")], id_col="id")


def test_semantic_dedup_drops_dominated(rows):
    from bi_etl_and_integration_spark.operators.similarity import (
        semantic_dedup)
    import pytest
    # two well-separated clusters; ids 2 and 3 duplicate id 1's
    # direction (cosine 1.0), id 11 is opposite to 10 (cosine -1)
    df = rows([(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [0.9, 0.0]),
               (10, [0.0, 1.0]), (11, [0.0, -1.0])],
              "vec_id long, embedding array<float>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    out = semantic_dedup(df, cents, threshold=0.9)
    assert sorted(r["vec_id"] for r in out.collect()) == [1, 10, 11]
    with pytest.raises(ValueError, match="cap"):
        semantic_dedup(df, cents, threshold=0.9, max_cluster_rows=2)


def test_semantic_dedup_guard_fires_before_allocation(rows):
    """The hot-cluster guard must raise BEFORE the dominance pass can
    allocate anything n²-shaped: an oversized cluster errors out of
    the driver-side size check, never reaching numpy."""
    import pytest
    from bi_etl_and_integration_spark.operators.similarity import (
        semantic_dedup)
    n = 50
    df = rows([(i, [1.0, float(i % 3)]) for i in range(n)],
              "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="cap 10"):
        semantic_dedup(df, [(0, [1.0, 0.0])], threshold=0.99,
                       max_cluster_rows=10)


def test_semantic_dedup_blocked_pass_matches_single_block(
        rows, monkeypatch):
    """Forcing the dominance pass to run multi-block (block floor of
    256 rows < 600-row cluster) must produce the same survivor set as
    the default single-block path — keep-first dominance semantics
    hold across block boundaries."""
    import numpy as np

    from bi_etl_and_integration_spark.operators import similarity
    rng = np.random.default_rng(7)
    # 600 vectors in one cluster: 200 unique directions x 3 copies
    base = rng.normal(size=(200, 4))
    vecs = []
    for i in range(600):
        v = base[i % 200] * (1.0 + (i // 200))     # same direction
        vecs.append((i, [float(x) for x in v]))
    df = rows(vecs, "vec_id long, embedding array<float>")
    cents = [(0, [1.0, 0.0, 0.0, 0.0])]
    single = sorted(r["vec_id"] for r in similarity.semantic_dedup(
        df, cents, threshold=0.999).collect())
    monkeypatch.setattr(similarity, "_DOM_BLOCK_FLOATS", 1)
    multi = sorted(r["vec_id"] for r in similarity.semantic_dedup(
        df, cents, threshold=0.999).collect())
    # block boundaries must not change the survivor set
    assert single == multi
    # keep-first: every scaled copy (id >= 200) is dominated by its
    # base direction; a couple of base directions are themselves
    # coincidentally near-parallel, so survivors ⊆ [0, 200), not ==
    assert max(single) < 200
    assert len(single) >= 190


def test_pq_topk_shortlist_reranks_exact(rows):
    """IVFADC+R: with shortlist covering the whole corpus, the exact
    re-rank must reproduce brute force EXACTLY (ids, ranks, and the
    cosine metric itself) — ADC then only selects candidates.  Also
    validates the shortlist > k contract."""
    import math as m_
    import pytest as pt
    corpus = rows([(i, [m_.cos(i / 7.0 + j) for j in range(16)])
                   for i in range(60)], EMB)
    queries = rows([(q, [m_.cos(q * 13 / 7.0 + j) for j in range(16)])
                    for q in range(2)],
                   "query_id long, embedding array<float>")
    exact = {(r["query_id"], r["rank"]): r["vec_id"]
             for r in sim.brute_force_topk(corpus, queries, k=5).collect()}
    rer = sim.pq_topk(corpus, queries, k=5, m=4, nbits=6,
                      shortlist=60, train_size=60).collect()
    assert {(r["query_id"], r["rank"]): r["vec_id"] for r in rer} == exact
    assert all("cosine_sim" in r.asDict() for r in rer)
    with pt.raises(ValueError, match="shortlist"):
        sim.pq_topk(corpus, queries, k=5, shortlist=5)


def test_kmeans_assign_arrow_equals_exact(rows):
    """The Arrow/BLAS assignment path must reproduce the exact
    sequential fold bit for bit: random data, duplicated centroids
    (exact tie -> lower cid wins even when the lower cid comes later
    in the list), and near-tie rows engineered inside the band."""
    import numpy as np
    from bi_etl_and_integration_spark.operators.similarity import (
        kmeans_assign)

    rng = np.random.RandomState(11)
    dim = 8
    pts = rng.randn(60, dim)
    # centroid 7 duplicates centroid 3's vector; list order puts the
    # HIGHER cid first so a first-wins fast path would get ties wrong
    cents_vecs = rng.randn(6, dim)
    cents = [(7, [float(x) for x in cents_vecs[0]]),
             (3, [float(x) for x in cents_vecs[0]])]
    cents += [(i, [float(x) for x in cents_vecs[i - 1]])
              for i in range(2, 6)]
    # rows sitting exactly on a duplicated centroid -> exact tie
    data = [(i, [float(x) for x in pts[i]]) for i in range(60)]
    data += [(100, [float(x) for x in cents_vecs[0]]),
             (101, [float(x) for x in cents_vecs[3]])]
    df = rows(data, "vec_id long, embedding array<double>")
    arr = {r["vec_id"]: r["cluster"] for r in
           kmeans_assign(df, cents, method="arrow").collect()}
    assert arr == _exact_assign(df, cents)
    assert arr[100] == 3                  # duplicated centroid: min cid


def test_kmeans_assign_auto_switches_on_budget(rows, monkeypatch):
    """auto switches on the _COARSE_MIN_K budget: below it, the flat
    Arrow pass — a zero-shuffle narrow map with no coarse grouping."""
    from bi_etl_and_integration_spark.operators import similarity
    from bi_etl_and_integration_spark import plans

    dim = 16
    k = similarity._COARSE_MIN_K - 1
    df = rows([(i, [float(i)] * dim) for i in range(5)],
              "vec_id long, embedding array<double>")
    cents = [(i, [float(3 * i)] * dim) for i in range(k)]
    grouped = []
    real = similarity._group_centroids
    monkeypatch.setattr(similarity, "_group_centroids",
                        lambda *a: grouped.append(1) or real(*a))
    out = similarity.kmeans_assign(df, cents)
    assert not grouped                    # arrow, not coarse
    assert plans.shuffle_count(out) == 0
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    # row i = [i]*dim is nearest centroid [3j]*dim with j = round(i/3)
    assert got == {i: int(round(i / 3.0)) for i in range(5)}
    assert got == _exact_assign(df, cents)


def test_kmeans_assign_arrow_null_nan_and_id_guard(rows):
    """Review r7 fixes: NULL or NaN-bearing embeddings -> the MIN
    centroid id (the arrow path reaches it via the empty-band
    fallback); 64-bit centroid ids are rejected loudly on every path
    instead of silently wrapping."""
    import pytest
    from bi_etl_and_integration_spark.operators.similarity import (
        kmeans_assign)

    df = rows([(1, [0.0, 0.0]), (2, None),
               (3, [float("nan"), 1.0]), (4, [9.0, 9.0])],
              "vec_id long, embedding array<double>")
    cents = [(5, [0.0, 0.0]), (2, [9.0, 9.0])]   # min cid = 2
    arr = {r["vec_id"]: r["cluster"] for r in
           kmeans_assign(df, cents, method="arrow").collect()}
    assert arr == _exact_assign(df, cents)
    assert arr[2] == 2                  # NULL embedding -> min cid
    assert arr[3] == 2                         # NaN -> min cid
    for method in ("arrow", "coarse", "auto"):
        with pytest.raises(ValueError, match="int32"):
            kmeans_assign(df, [(3_000_000_000, [0.0, 0.0])],
                          method=method)


def test_kmeans_assign_arrow_equals_exact_near_ties(rows):
    """Adversarial equivalence sweep: random corpora against centroid
    sets that include an ENGINEERED near-tie pair (B = A + 1e-9 per
    component — distances differ by ~1e-8, inside the re-decision
    band), across several seeds.  The arrow path must reproduce the
    exact fold's argmin bit for bit, near-ties included."""
    import numpy as np
    from bi_etl_and_integration_spark.operators.similarity import (
        kmeans_assign)

    dim = 6
    for seed in (0, 1, 2):
        rng = np.random.RandomState(seed)
        base = rng.randn(4, dim)
        cents = [(10 + i, [float(x) for x in base[i]]) for i in range(4)]
        # near-tie pair: id 3 (lower) duplicates id 50's vector + 1e-9
        cents.append((50, [float(x) for x in base[0]]))
        cents.append((3, [float(x + 1e-9) for x in base[0]]))
        pts = np.vstack([rng.randn(40, dim),
                         base[0] + rng.randn(10, dim) * 1e-6])
        df = rows([(i, [float(x) for x in pts[i]])
                   for i in range(len(pts))],
                  "vec_id long, embedding array<double>")
        arr = {r["vec_id"]: r["cluster"] for r in
               kmeans_assign(df, cents, method="arrow").collect()}
        assert arr == _exact_assign(df, cents), f"seed {seed}"
        # the 1e-6-radius cloud around base[0] sits in the band of the
        # three base[0]-coincident centroids (10 exact, 50 exact, 3 at
        # +1e-9) — every cloud point must land on one of them, decided
        # by the exact fold
        twin_hits = sum(1 for i in range(40, 50) if arr[i] in (3, 10, 50))
        assert twin_hits == 10, f"seed {seed}: {twin_hits}"


def test_kmeans_assign_coarse_equals_exact(rows):
    """The triangle-inequality-pruned coarse path (VERDICT r7 item 1)
    must reproduce the exact sequential fold bit for bit: random corpora, a
    duplicated-centroid exact tie, an engineered near-tie pair inside
    the band, NULL/NaN rows, across seeds and a k big enough for real
    super-grouping (k=96 -> G=10)."""
    import numpy as np
    from bi_etl_and_integration_spark.operators.similarity import (
        kmeans_assign)

    dim = 6
    for seed in (0, 1):
        rng = np.random.RandomState(seed)
        base = rng.randn(94, dim) * 3.0
        cents = [(200 + i, [float(x) for x in base[i]])
                 for i in range(94)]
        # exact tie: 7 duplicates 200's vector with a LOWER cid
        cents.append((7, [float(x) for x in base[0]]))
        # near-tie: 5 duplicates 201's vector + 1e-9 per component
        cents.append((5, [float(x + 1e-9) for x in base[1]]))
        pts = np.vstack([rng.randn(60, dim) * 3.0,
                         base[0] + rng.randn(5, dim) * 1e-7,
                         base[1] + rng.randn(5, dim) * 1e-7])
        data = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
        data += [(900, None), (901, [float("nan")] * dim)]
        df = rows(data, "vec_id long, embedding array<double>")
        crs = {r["vec_id"]: r["cluster"] for r in
               kmeans_assign(df, cents, method="coarse").collect()}
        assert crs == _exact_assign(df, cents), f"seed {seed}"
        assert crs[900] == 5 and crs[901] == 5   # min cid fallback
        # exact-tie cloud lands on min(200, 7) = 7 via the exact fold
        assert all(crs[i] in (7, 200) for i in range(60, 65))


def test_kmeans_assign_auto_picks_coarse_at_large_k(rows):
    """auto: coarse at k >= _COARSE_MIN_K, arrow below; coarse stays
    a zero-shuffle map."""
    import numpy as np
    from bi_etl_and_integration_spark import plans
    from bi_etl_and_integration_spark.operators.similarity import (
        _COARSE_MIN_K, kmeans_assign)

    dim = 40
    rng = np.random.RandomState(3)
    df = rows([(i, [float(x) for x in rng.randn(dim)])
               for i in range(20)],
              "vec_id long, embedding array<double>")
    k = _COARSE_MIN_K + 9
    cents = [(i, [float(x) for x in rng.randn(dim)]) for i in range(k)]
    auto = kmeans_assign(df, cents)            # k=73 -> coarse
    assert plans.shuffle_count(auto) == 0
    got = {r["vec_id"]: r["cluster"] for r in auto.collect()}
    assert got == _exact_assign(df, cents)


def test_kmeans_assign_rejects_nonfinite_centroid(rows):
    """ADVICE r7: a NaN/inf centroid must be rejected at entry on
    EVERY path (it would silently poison all BLAS distances and
    diverge from the exact argmin)."""
    import pytest
    from bi_etl_and_integration_spark.operators.similarity import (
        kmeans_assign)

    df = rows([(1, [0.0, 0.0])], "vec_id long, embedding array<double>")
    for method in ("arrow", "coarse", "auto"):
        with pytest.raises(ValueError, match="non-finite"):
            kmeans_assign(df, [(0, [0.0, float("nan")])], method=method)
    with pytest.raises(ValueError, match="non-finite"):
        kmeans_assign(df, [(0, [0.0, float("inf")])])


def test_kmeans_assign_arrow_preserves_out_col_position(rows):
    """ADVICE r7: when out_col already exists, the arrow/coarse paths
    must keep it at its original schema position (`auto` may flip
    between them), and both must match the exact reference."""
    from bi_etl_and_integration_spark.operators.similarity import (
        kmeans_assign)

    df = rows([(1, 99, [0.0, 0.0]), (2, 99, [9.0, 9.0])],
              "vec_id long, cluster int, embedding array<double>")
    cents = [(0, [0.0, 0.0]), (1, [9.0, 9.0])]
    arr = kmeans_assign(df, cents, method="arrow", out_col="cluster")
    crs = kmeans_assign(df, cents, method="coarse", out_col="cluster")
    assert arr.columns == crs.columns == df.columns
    want = {1: 0, 2: 1}
    assert _exact_assign(df, cents) == want
    for out in (arr, crs):
        assert {r["vec_id"]: r["cluster"] for r in out.collect()} == want


def test_ivf_persisted_index_search(rows, tmp_path):
    """ivf_index_write / ivf_search: the persisted-index probe must
    return the same neighbors as exact brute force when every list is
    probed, respect k/tie rules, and enforce the probe-batch guard."""
    import numpy as np
    import pytest
    from bi_etl_and_integration_spark.operators import similarity as sim

    rng = np.random.RandomState(5)
    corpus = rows([(i, [float(x) for x in rng.randn(16)])
                   for i in range(300)],
                  "vec_id long, embedding array<double>")
    queries = rows([(i, [float(x) for x in rng.randn(16)])
                    for i in range(3)],
                   "query_id long, embedding array<double>")
    idx = str(tmp_path / "ivf")
    sim.ivf_index_write(corpus, idx, nlist=4)
    spark = corpus.sparkSession
    got = sim.ivf_search(spark, idx, queries, k=5, n_probe=4)  # all lists
    exact = sim.brute_force_topk(corpus, queries, k=5)
    assert ({(r["query_id"], r["rank"]): r["vec_id"]
             for r in got.collect()}
            == {(r["query_id"], r["rank"]): r["vec_id"]
                for r in exact.collect()})
    # fewer probes: a subset of the exact ranking's ids, k rows/query
    part = sim.ivf_search(spark, idx, queries, k=5, n_probe=2).collect()
    assert all(sum(1 for r in part if r["query_id"] == q) <= 5
               for q in (0, 1, 2))
    with pytest.raises(ValueError, match="probe batch|queries has"):
        sim.ivf_search(spark, idx, queries, k=2, max_query_rows=1)
    with pytest.raises(ValueError, match="empty"):
        sim.ivf_search(spark, idx, queries.where("query_id < 0"), k=2)


def test_ivf_index_append_equals_rebuild(rows, tmp_path):
    """ivf_index_append: folding a batch into a persisted index must
    (a) lay out every row exactly where a rebuild of the union under
    the SAME frozen centroids would (bit-exact assignments), (b) leave
    the original index files untouched, and (c) make the appended rows
    searchable with the same ranking a full-corpus index gives."""
    import numpy as np
    from bi_etl_and_integration_spark.operators import similarity as sim

    rng = np.random.RandomState(7)
    base = rows([(i, [float(x) for x in rng.randn(16)])
                 for i in range(0, 300, 2)],
                "vec_id long, embedding array<double>")
    batch = rows([(i, [float(x) for x in rng.randn(16)])
                  for i in range(1, 300, 2)],
                 "vec_id long, embedding array<double>")
    spark = base.sparkSession
    idx = str(tmp_path / "ivf_app")
    sim.ivf_index_write(base, idx, nlist=4)
    before = {(r["vec_id"], r["centroid_id"]) for r in
              SnapshotTable(spark, idx).read()
              .select("vec_id", "centroid_id").collect()}
    sim.ivf_index_append(batch, idx)
    after = {(r["vec_id"], r["centroid_id"]) for r in
             SnapshotTable(spark, idx).read()
             .select("vec_id", "centroid_id").collect()}
    assert before <= after and len(after) == 300   # (b): old rows intact
    # (a) append == rebuild under the stored centroids, bit-exact
    _, _, (cmat, _), _ = sim._ivf_index(spark, idx)
    idx2 = str(tmp_path / "ivf_reb")
    sim.ivf_index_write(base.unionByName(batch), idx2, centroids=cmat)
    rebuilt = {(r["vec_id"], r["centroid_id"]) for r in
               SnapshotTable(spark, idx2).read()
               .select("vec_id", "centroid_id").collect()}
    assert after == rebuilt
    # (c) all-list search over the appended index == exact brute force
    queries = rows([(0, [float(x) for x in rng.randn(16)])],
                   "query_id long, embedding array<double>")
    got = sim.ivf_search(spark, idx, queries, k=5, n_probe=4).collect()
    exact = sim.brute_force_topk(base.unionByName(batch), queries,
                                 k=5).collect()
    assert ([r["vec_id"] for r in sorted(got, key=lambda r: r["rank"])]
            == [r["vec_id"] for r in sorted(exact,
                                            key=lambda r: r["rank"])])


def test_ivf_index_append_writes_one_file_per_list(rows, tmp_path):
    """A build and an append shuffle by list id before the partitioned
    write: a 4-partition input whose partitions each hold every list
    adds at most nlist data files, not one per (partition, list)."""
    import numpy as np

    from bi_etl_and_integration_spark.sources.snapshots import (
        _read_manifest)
    rng = np.random.RandomState(3)
    base = rows([(i, [float(x) for x in rng.randn(8)])
                 for i in range(200)],
                "vec_id long, embedding array<double>")
    batch = rows([(i, [float(x) for x in rng.randn(8)])
                  for i in range(200, 400)],
                 "vec_id long, embedding array<double>").repartition(4)
    idx = str(tmp_path / "ivf_files")
    sim.ivf_index_write(base, idx, nlist=4)
    table = SnapshotTable(base.sparkSession, idx)

    def files():
        return len(_read_manifest(idx, table.latest_version())["files"])
    before = files()
    assert before <= 4
    sim.ivf_index_append(batch, idx)
    assert files() - before <= 4


def test_ivf_interrupted_rebuild_keeps_previous_version(rows, tmp_path,
                                                         monkeypatch):
    """A rebuild interrupted after its files are staged but before its
    commit leaves the previous version searchable with identical
    results: vectors, centroids and codebooks become visible only
    together, in one manifest."""
    import os

    import numpy as np
    import pytest

    rng = np.random.RandomState(29)
    corpus = rows([(i, [float(x) for x in rng.randn(16)])
                   for i in range(120)],
                  "vec_id long, embedding array<double>")
    queries = rows([(i, [float(x) for x in rng.randn(16)])
                    for i in range(2)],
                   "query_id long, embedding array<double>")
    spark = corpus.sparkSession
    idx = str(tmp_path / "ivf_interrupt")
    sim.ivf_index_write(corpus, idx, nlist=4, pq_m=4, pq_nbits=4)

    def search():
        return sorted(
            (r["query_id"], r["rank"], r["vec_id"], r["cosine_sim"])
            for r in sim.ivf_search(spark, idx, queries, k=5, n_probe=2,
                                    shortlist=20).collect())

    before = search()
    staged = len(os.listdir(os.path.join(idx, "data")))

    def interrupted(self, *args, **kwargs):
        raise RuntimeError("interrupted before the commit")

    monkeypatch.setattr(SnapshotTable, "_commit", interrupted)
    with pytest.raises(RuntimeError, match="interrupted"):
        sim.ivf_index_write(corpus, idx, nlist=4, seed=7)
    monkeypatch.undo()
    # the rebuild's files are on disk, but no manifest names them
    assert len(os.listdir(os.path.join(idx, "data"))) > staged
    assert SnapshotTable(spark, idx).latest_version() == 1
    assert search() == before


def test_ivf_index_pq_adc_search(rows, tmp_path):
    """IVFADC at rest (ivf_index_write(pq_m=) + ivf_search(shortlist=)):
    with every list probed and a full-corpus shortlist the ADC+rerank
    path must return exactly the brute-force ranking (the rerank is
    exact cosine, ADC only selects candidates); append must encode the
    batch with the STORED books; guards must fire."""
    import numpy as np
    import pytest
    from bi_etl_and_integration_spark.operators import similarity as sim

    rng = np.random.RandomState(11)
    corpus = rows([(i, [float(x) for x in rng.randn(16)])
                   for i in range(240)],
                  "vec_id long, embedding array<double>")
    queries = rows([(i, [float(x) for x in rng.randn(16)])
                    for i in range(2)],
                   "query_id long, embedding array<double>")
    spark = corpus.sparkSession
    idx = str(tmp_path / "ivfadc")
    sim.ivf_index_write(corpus, idx, nlist=4, pq_m=4, pq_nbits=5)
    vec = SnapshotTable(spark, idx).read()
    assert "pq_code" in vec.columns
    got = sim.ivf_search(spark, idx, queries, k=5, n_probe=4,
                         shortlist=240)
    exact = sim.brute_force_topk(corpus, queries, k=5)
    assert ({(r["query_id"], r["rank"]): r["vec_id"]
             for r in got.collect()}
            == {(r["query_id"], r["rank"]): r["vec_id"]
                for r in exact.collect()})
    # narrow shortlist + partial probe still returns k rows per query
    part = sim.ivf_search(spark, idx, queries, k=5, n_probe=2,
                          shortlist=20).collect()
    assert all(sum(1 for r in part if r["query_id"] == q) == 5
               for q in (0, 1))
    # append encodes with the stored books: no null codes afterwards
    batch = rows([(1000 + i, [float(x) for x in rng.randn(16)])
                  for i in range(40)],
                 "vec_id long, embedding array<double>")
    sim.ivf_index_append(batch, idx)
    allv = SnapshotTable(spark, idx).read()
    assert allv.where("pq_code IS NULL").count() == 0
    assert allv.count() == 280
    # guards
    with pytest.raises(ValueError, match="must exceed"):
        sim.ivf_search(spark, idx, queries, k=5, shortlist=5)
    idx2 = str(tmp_path / "plain")
    sim.ivf_index_write(corpus, idx2, nlist=4)
    with pytest.raises(ValueError, match="IVFADC|pq"):
        sim.ivf_search(spark, idx2, queries, k=5, shortlist=20)


def test_ivf_rebuild_without_pq_clears_stale_books(rows, tmp_path):
    """Rebuilding a formerly-IVFADC index with pq_m=None must commit a
    version without codebooks (ADVICE r9): stale books would make the
    index read as IVFADC while its vectors carry no pq_code — appends
    would mix schemas and shortlist searches would crash or silently
    mis-score."""
    import numpy as np
    import pytest
    from bi_etl_and_integration_spark.operators import similarity as sim

    rng = np.random.RandomState(13)
    corpus = rows([(i, [float(x) for x in rng.randn(16)])
                   for i in range(120)],
                  "vec_id long, embedding array<double>")
    spark = corpus.sparkSession
    idx = str(tmp_path / "ivf_cycle")
    sim.ivf_index_write(corpus, idx, nlist=4, pq_m=4, pq_nbits=4)
    assert sim._ivf_index(spark, idx)[3] is not None
    # rebuild WITHOUT pq: books must be gone, index reads as plain IVF
    sim.ivf_index_write(corpus, idx, nlist=4)
    assert sim._ivf_index(spark, idx)[3] is None
    assert "pq_code" not in SnapshotTable(spark, idx).read().columns
    # append into the rebuilt index stays codeless (no mixed schema)
    batch = rows([(1000 + i, [float(x) for x in rng.randn(16)])
                  for i in range(10)],
                 "vec_id long, embedding array<double>")
    sim.ivf_index_append(batch, idx)
    allv = SnapshotTable(spark, idx).read()
    assert "pq_code" not in allv.columns and allv.count() == 130
    # and a shortlist search against it raises the clear guard
    queries = rows([(0, [float(x) for x in rng.randn(16)])],
                   "query_id long, embedding array<double>")
    with pytest.raises(ValueError, match="IVFADC|pq"):
        sim.ivf_search(spark, idx, queries, k=3, shortlist=10)


def test_ivf_search_rejects_duplicate_query_ids(rows, tmp_path):
    """Probe sets and ADC LUTs are keyed by query id (ADVICE r9):
    duplicates would silently collapse to one row's probe set, so the
    guard must fire on both the plain and the shortlist path."""
    import numpy as np
    import pytest
    from bi_etl_and_integration_spark.operators import similarity as sim

    rng = np.random.RandomState(17)
    corpus = rows([(i, [float(x) for x in rng.randn(16)])
                   for i in range(80)],
                  "vec_id long, embedding array<double>")
    dup = rows([(7, [float(x) for x in rng.randn(16)]),
                (7, [float(x) for x in rng.randn(16)])],
               "query_id long, embedding array<double>")
    spark = corpus.sparkSession
    idx = str(tmp_path / "ivf_dup")
    sim.ivf_index_write(corpus, idx, nlist=4, pq_m=4, pq_nbits=4)
    with pytest.raises(ValueError, match="duplicate query ids"):
        sim.ivf_search(spark, idx, dup, k=3)
    with pytest.raises(ValueError, match="duplicate query ids"):
        sim.ivf_search(spark, idx, dup, k=3, shortlist=10)


def test_ivf_search_shortlist_cap_guard(rows, tmp_path):
    """ADVICE r10: the IVFADC path collects shortlist × nq ids to plan
    the rerank's literal pushdown — a batch whose bound exceeds
    max_shortlist_rows must raise BEFORE running the ADC job instead
    of collecting an unbounded set onto the driver."""
    import numpy as np
    import pytest
    from bi_etl_and_integration_spark.operators import similarity as sim

    rng = np.random.RandomState(19)
    corpus = rows([(i, [float(x) for x in rng.randn(16)])
                   for i in range(80)],
                  "vec_id long, embedding array<double>")
    queries = rows([(i, [float(x) for x in rng.randn(16)])
                    for i in range(4)],
                   "query_id long, embedding array<double>")
    spark = corpus.sparkSession
    idx = str(tmp_path / "ivf_cap")
    sim.ivf_index_write(corpus, idx, nlist=4, pq_m=4, pq_nbits=4)
    with pytest.raises(ValueError, match="max_shortlist_rows"):
        sim.ivf_search(spark, idx, queries, k=3, shortlist=10,
                       max_shortlist_rows=39)        # 10 × 4 > 39
    got = sim.ivf_search(spark, idx, queries, k=3, shortlist=10,
                         n_probe=4, max_shortlist_rows=40).collect()
    assert all(sum(1 for r in got if r["query_id"] == q) == 3
               for q in range(4))


def test_ivf_search_reads_rebuilt_version_with_bounded_cache(rows,
                                                             tmp_path):
    """The decoded centroids and codebooks are cached per committed
    version: after a rebuild — or after the index directory is deleted
    and rebuilt, which reuses version numbers — the next search uses
    the NEW centroids, never a stale cached copy, and the cache stays
    bounded however many versions a long-lived session reads."""
    import shutil

    import numpy as np
    from bi_etl_and_integration_spark.operators import similarity as sim
    from bi_etl_and_integration_spark.sources import snapshots

    rng = np.random.RandomState(23)
    corpus = rows([(i, [float(x) for x in rng.randn(16)])
                   for i in range(60)],
                  "vec_id long, embedding array<double>")
    queries = rows([(0, [float(x) for x in rng.randn(16)])],
                   "query_id long, embedding array<double>")
    spark = corpus.sparkSession
    idx = str(tmp_path / "ivf_rebuild")
    sim.ivf_index_write(corpus, idx, nlist=4, pq_m=4, pq_nbits=4)
    sim.ivf_search(spark, idx, queries, k=3, n_probe=4).collect()
    _, _, (first, _), _ = sim._ivf_index(spark, idx)
    # rebuild under a different frozen quantizer: the next read must
    # return exactly the new version's centroids
    sim.ivf_index_write(corpus, idx, centroids=-first)
    _, version, (cmat, _), books = sim._ivf_index(spark, idx)
    assert version == 2 and books is None
    assert np.array_equal(cmat, -first)
    got = sim.ivf_search(spark, idx, queries, k=3, n_probe=4).collect()
    exact = sim.brute_force_topk(corpus, queries, k=3).collect()
    assert ({r["rank"]: r["vec_id"] for r in got}
            == {r["rank"]: r["vec_id"] for r in exact})
    # deleted and rebuilt at the same path: version 1 again, new files
    shutil.rmtree(idx)
    sim.ivf_index_write(corpus, idx, centroids=-first)
    _, version, (cmat, _), _ = sim._ivf_index(spark, idx)
    assert version == 1 and np.array_equal(cmat, -first)
    # bounded: more distinct keys than the cache holds leave it at its
    # maximum size
    table = SnapshotTable(spark, idx)
    info = snapshots._decoded.cache_info()
    for i in range(info.maxsize + 4):
        snapshots._sidecar(table.path, 1, "centroids", lambda t, i=i: i)
    info = snapshots._decoded.cache_info()
    assert info.currsize == info.maxsize
