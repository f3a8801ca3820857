"""Unit tests: dedup operators for training-data pipelines."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators import dedup as dd

DOCS = "doc_id long, text string"


def test_exact_dedup_normalizes_content(rows):
    df = rows([(1, "Hello,  World!"), (2, "hello world"),
               (3, "different")], DOCS)
    # raw-byte default: whitespace/case variants do NOT collapse
    raw = {r["canonical_id"]: r for r in dd.exact_dedup(df).collect()}
    assert sorted(raw) == [1, 2, 3]
    # normalize=True: 1 and 2 collapse (same tokens), canonical = min id
    out = dd.exact_dedup(df, normalize=True).collect()
    by_canon = {r["canonical_id"]: r for r in out}
    assert by_canon[1]["n_dups"] == 2
    assert by_canon[1]["member_ids"] == [1, 2]
    assert by_canon[3]["n_dups"] == 1


def test_shingles(rows):
    df = rows([(1, "a b c d")], DOCS)
    sh = df.select(dd.shingles(F.col("text"), 2).alias("sh")).collect()[0]["sh"]
    assert sorted(sh) == ["a b", "b c", "c d"]
    # short doc: falls back to whole-text shingle instead of empty set
    short = rows([(1, "onlyone")], DOCS)
    sh2 = short.select(dd.shingles(F.col("text"), 3).alias("sh")) \
        .collect()[0]["sh"]
    assert sh2 == ["onlyone"]


def test_minhash_lsh_finds_near_dups(rows):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base + "extra token"
    df = rows([(1, base), (2, near), (3, "completely unrelated words here "
                                         "about databases and spark")], DOCS)
    out = dd.minhash_lsh_dedup(df, jaccard_threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    sim = [r["jaccard_sim"] for r in out if (r["id_a"], r["id_b"]) == (1, 2)][0]
    assert sim >= 0.5


def test_minhash_multiprobe_superset(rows):
    base = "the quick brown fox jumps over the lazy dog " * 5
    df = rows([(1, base), (2, base + "extra token"),
               (3, base + "two extra tokens"),
               (4, "completely unrelated words here about spark")], DOCS)
    import pytest
    with pytest.raises(ValueError):
        dd.minhash_lsh_dedup(df, num_hashes=10, bands=4)
    kw = dict(num_hashes=16, bands=4, jaccard_threshold=0.5)
    single_rows = dd.minhash_lsh_dedup(df, **kw).collect()
    multi_rows = dd.minhash_lsh_dedup(df, n_probes=3, **kw).collect()
    single = {(r["id_a"], r["id_b"]) for r in single_rows}
    multi = {(r["id_a"], r["id_b"]) for r in multi_rows}
    # probe 0 is the single-probe hash family: union can only add pairs
    assert single <= multi
    assert (1, 2) in multi
    assert all(4 not in p for p in multi)
    # candidate pairs found by several probes verify exactly once
    assert len(multi_rows) == len(multi)
    # verified Jaccard is probe-independent
    sims = {(r["id_a"], r["id_b"]): r["jaccard_sim"] for r in multi_rows}
    for r in single_rows:
        assert sims[(r["id_a"], r["id_b"])] == r["jaccard_sim"]


def test_simhash_identical_docs_distance_zero(rows):
    df = rows([(1, "spark makes big data simple"),
               (2, "spark makes big data simple"),
               (3, "utterly different content entirely")], DOCS)
    out = dd.simhash_dedup(df, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert got.get((1, 2)) == 0
    assert (1, 3) not in got and (2, 3) not in got


def test_ngram_jaccard_dedup(rows):
    df = rows([(1, "alpha beta gamma delta epsilon"),
               (2, "alpha beta gamma delta zeta"),
               (3, "nothing in common at all")], DOCS)
    out = dd.ngram_jaccard_dedup(df, n=2, threshold=0.3).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in pairs


# every Jaccard pair generator as (docs, threshold) -> pairs; the
# lookup indexes doc 2 and probes doc 1, so its pair is (1, 2) too
JACCARD_GENERATORS = {
    "ngram_jaccard_dedup": lambda df, t: dd.ngram_jaccard_dedup(
        df, n=3, threshold=t),
    "exact_jaccard_join": lambda df, t: dd.exact_jaccard_join(
        df, n=3, threshold=t),
    "minhash_lsh_dedup": lambda df, t: dd.minhash_lsh_dedup(
        df, num_hashes=32, bands=32, shingle_n=3, jaccard_threshold=t),
    "minhash_lookup": lambda df, t: dd.minhash_lookup(
        df.where("doc_id = 1"),
        dd.minhash_index(df.where("doc_id = 2"), num_hashes=32, bands=32,
                         shingle_n=3),
        jaccard_threshold=t),
}


@pytest.mark.parametrize("gen", sorted(JACCARD_GENERATORS))
def test_jaccard_generators_threshold_unrounded_value(rows, gen):
    """J = 2/3 exactly (shingles {abc, bcd, cde} vs {abc, bcd}): every
    generator thresholds the UNROUNDED Jaccard, so 0.6667 rejects the
    pair even though it reports as round(2/3, 4) = 0.6667 at 0.6666."""
    df = rows([(1, "a b c d e"), (2, "a b c d")], DOCS)
    pairs = lambda t: {(r["id_a"], r["id_b"], r["jaccard_sim"])  # noqa: E731
                       for r in JACCARD_GENERATORS[gen](df, t).collect()}
    assert pairs(0.6667) == set()
    assert pairs(0.6666) == {(1, 2, 0.6667)}


def test_cosine_verify_threshold_unrounded_value(rows):
    """cos = 0.99895 reports as 0.999 but is below a 0.999 threshold:
    the embedding verify thresholds the UNROUNDED cosine, like the
    Jaccard generators, and rounds only the emitted value."""
    import math

    import pandas as pd
    c = 0.99895
    pdf = pd.DataFrame({"id": [1, 2],
                        "v": [[1.0, 0.0], [c, math.sqrt(1 - c * c)]]})
    df = rows([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    pairs = lambda t: list(dd._cosine_verify(  # noqa: E731, SLF001
        df, "vec_id", t)[0](pdf).itertuples(index=False, name=None))
    assert pairs(0.999) == []
    assert pairs(0.9989) == [(1, 2, 0.999)]


def test_embedding_dedup_identical_vectors(rows):
    df = rows([(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]),
               (3, [-1.0, 0.0, 0.0])],
              "vec_id long, embedding array<float>")
    out = dd.embedding_dedup(df, threshold=0.99, n_planes=4).collect()
    pairs = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in out}
    assert pairs.get((1, 2)) == 1.0
    assert all(3 not in p for p in pairs)


def test_embedding_dedup_builds_without_spark_jobs(spark, rows, tmp_path):
    """The hyperplanes are drawn in the Arrow worker from the batch's
    vector width, so building either plan over a file source launches
    no job (no driver-side probe for the embedding width)."""
    rows([(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
         "vec_id long, embedding array<float>").write.parquet(
        str(tmp_path / "emb"))
    df = spark.read.parquet(str(tmp_path / "emb"))
    sc = spark.sparkContext
    group = "test.embedding_dedup.build"
    sc.setJobGroup(group, "construction only")
    try:
        single = dd.embedding_dedup(df, threshold=0.99, n_planes=4)
        multi = dd.embedding_dedup(df, threshold=0.99, n_planes=4,
                                   n_probes=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert single.columns == multi.columns == ["id_a", "id_b",
                                               "cosine_sim"]


def test_embedding_dedup_multiprobe_superset(rows):
    df = rows([(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]),
               (3, [0.95, 0.3, 0.05]), (4, [-1.0, 0.0, 0.0])],
              "vec_id long, embedding array<float>")
    single = {(r["id_a"], r["id_b"]) for r in dd.embedding_dedup(
        df, threshold=0.9, n_planes=6).collect()}
    multi_rows = dd.embedding_dedup(
        df, threshold=0.9, n_planes=6, n_probes=3).collect()
    multi = {(r["id_a"], r["id_b"]) for r in multi_rows}
    # probe 0 uses the same seed as the single run: union can only add
    assert single <= multi
    assert (1, 2) in multi  # identical vectors agree under every draw
    assert all(4 not in p for p in multi)
    # each recovered pair appears exactly once despite multiple probes
    assert len(multi_rows) == len(multi)


def test_simhash_table_matches_column_variant(rows):
    """The SWAR-packed vote aggregation (simhash_table) must agree
    bit-for-bit with the per-row array-accumulator column (simhash) —
    same hash family, same vote rule, different plan."""
    docs = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "the quick brown fox jumps over the lazy dog again"),
            (4, "single"),
            (5, "a b a b a b repeated tokens a b")]
    df = rows(docs, DOCS)
    via_table = {r["id"]: r["__sh"]
                 for r in dd.simhash_table(df).collect()}
    via_col = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", dd.simhash(F.col("text")).alias("sh")).collect()}
    assert via_table == via_col


def test_embedding_dedup_hot_bucket_blockwise(rows):
    """Degenerate pile-up: every vector identical -> one bucket holding
    all rows.  With bucket size above _VERIFY_BLOCK the blockwise gram
    path must still produce every n*(n-1)/2 pair without materializing
    an n x n matrix (monkeypatched block keeps the test fast)."""
    import bi_etl_and_integration_spark.operators.dedup as ddm
    n = 300
    df = rows([(i, [1.0, 0.0]) for i in range(n)],
              "vec_id long, embedding array<float>").coalesce(1)
    old = ddm._VERIFY_BLOCK
    ddm._VERIFY_BLOCK = 64  # force multiple slabs
    try:
        out = dd.embedding_dedup(df, threshold=0.99, n_planes=2).collect()
    finally:
        ddm._VERIFY_BLOCK = old
    assert len(out) == n * (n - 1) // 2
    assert all(r["cosine_sim"] == 1.0 and r["id_a"] < r["id_b"]
               for r in out)


def test_embedding_dedup_hot_bucket_cap_raises(rows):
    """A bucket beyond max_bucket_rows fails loudly (n_planes advice),
    not by OOMing the executor on an intractable O(n^2) verify."""
    df = rows([(i, [1.0, 0.0]) for i in range(40)],
              "vec_id long, embedding array<float>").coalesce(1)
    guarded = dd.embedding_dedup(df, threshold=0.9, n_planes=2,
                                 max_bucket_rows=10)
    with pytest.raises(Exception, match="n_planes"):
        guarded.collect()


def test_dedup_canonicalize_components(rows):
    from pyspark.sql import functions as F
    from bi_etl_and_integration_spark.operators.dedup import (
        dedup_canonicalize)
    docs = rows([(i,) for i in range(1, 8)], "doc_id long")
    # components: {1,2,3} (chain, NOT a clique: 1~2, 2~3 only),
    # {5,6}; 4 and 7 untouched
    pairs = rows([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    out = {r["doc_id"]: (r["canonical_id"], r["is_dup"])
           for r in dedup_canonicalize(docs, pairs).collect()}
    assert out == {1: (1, False), 2: (1, True), 3: (1, True),
                   4: (4, False), 5: (5, False), 6: (5, True),
                   7: (7, False)}
    kept = sorted(k for k, (_, d) in out.items() if not d)
    assert kept == [1, 4, 5, 7]


def test_dedup_canonicalize_prefer_election(rows):
    from pyspark.sql import functions as F
    from bi_etl_and_integration_spark.operators.dedup import (
        dedup_canonicalize)
    docs = rows([(1, 10), (2, 99), (3, 99), (4, 5)],
                "doc_id long, nc long")
    pairs = rows([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {r["doc_id"]: r["canonical_id"] for r in dedup_canonicalize(
        docs, pairs, prefer=F.col("nc")).collect()}
    # cluster {1,2,3}: max nc is 99 shared by 2 and 3 -> lower id 2
    assert out == {1: 2, 2: 2, 3: 2, 4: 4}


def test_substring_dedup_removes_planted_boilerplate(rows):
    from bi_etl_and_integration_spark.operators.dedup import (
        substring_dedup)
    boiler = "#" * 100                       # 2 full windows at stride 50
    uniq = {i: "".join(f"u{i:04d}p{j:03d}xy" for j in range(12))
            for i in range(6)}
    data = [(i, (boiler + uniq[i]) if i % 2 == 0 else uniq[i])
            for i in range(6)]
    df = rows(data, "doc_id long, text string")
    out = {r["doc_id"]: r for r in substring_dedup(
        df, "text", "doc_id", window=50, stride=25).collect()}
    assert out[0]["n_removed_chars"] == 0          # owner keeps
    assert out[0]["text"] == boiler + uniq[0]
    for i in (2, 4):                               # dup docs: boiler cut
        assert out[i]["n_removed_chars"] == 100, i
        assert out[i]["text"] == uniq[i], i
    for i in (1, 3, 5):                            # unique docs untouched
        assert out[i]["n_removed_chars"] == 0
        assert out[i]["text"] == uniq[i]


def test_substring_dedup_merges_overlapping_spans_mid_doc(rows):
    from bi_etl_and_integration_spark.operators.dedup import (
        substring_dedup)
    shared = "S" * 150
    a = "".join(f"a{j:03d}xx" for j in range(20))   # 120 chars
    b = "".join(f"b{j:03d}xx" for j in range(20))
    # shared block sits MID-document in doc 2, prefix in doc 1
    df = rows([(1, shared + a), (2, b[:50] + shared + b[50:])],
              "doc_id long, text string")
    out = {r["doc_id"]: r for r in substring_dedup(
        df, "text", "doc_id", window=50, stride=25).collect()}
    assert out[1]["n_removed_chars"] == 0
    # doc 2 loses the aligned interior of the shared run; stride slop
    # is bounded by stride-1 on each side
    removed = out[2]["n_removed_chars"]
    assert 150 - 2 * 24 <= removed <= 150, removed
    assert "b000xx" in out[2]["text"]               # unique text survives


def test_substring_dedup_idempotent_and_validates(rows):
    import pytest

    from bi_etl_and_integration_spark.operators.dedup import (
        substring_dedup)
    boiler = "!" * 100
    uniq = {i: "".join(f"z{i:02d}q{j:03d}mn" for j in range(10))
            for i in range(4)}
    df = rows([(i, boiler + uniq[i]) for i in range(4)],
              "doc_id long, text string")
    once = substring_dedup(df, "text", "doc_id", window=50, stride=25)
    twice = substring_dedup(once.select("doc_id", "text"),
                            "text", "doc_id", window=50, stride=25)
    got = {r["doc_id"]: r for r in twice.collect()}
    # second pass finds nothing new: the surviving copy is unique now
    assert all(r["n_removed_chars"] == 0 for r in got.values())
    with pytest.raises(ValueError, match="stride"):
        substring_dedup(df, window=50, stride=51)


def test_exact_jaccard_join_matches_brute_force(rows):
    """Prefix-filter completeness: exact_jaccard_join must return the
    IDENTICAL pair set (ids and similarity) as brute-force all-pairs
    Jaccard over the same hashed shingle sets — including pairs whose
    shared shingles are the corpus's most frequent (the ones a rare-
    first prefix is most tempted to skip)."""
    import itertools
    import random

    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(24):
        docs.append((i, " ".join(rnd.choice(vocab) for _ in range(30))))
    # planted near-dups at several similarity levels
    docs.append((100, docs[0][1] + " extra"))             # ~0.94
    docs.append((101, " ".join(docs[1][1].split()[:18]))) # prefix cut
    docs.append((102, docs[2][1]))                        # identical
    df = rows(docs, DOCS)
    for t in (0.3, 0.5, 0.8):
        got = {(r["id_a"], r["id_b"]): r["jaccard_sim"]
               for r in dd.exact_jaccard_join(
                   df, "text", "doc_id", n=3, threshold=t).collect()}
        # brute force over the same hashed shingle definition
        sh = {r["doc_id"]: set(r["sh"]) for r in df.select(
            "doc_id", dd.hashed_shingles(F.col("text"), 3).alias("sh")
        ).collect()}
        want = {}
        for a, b in itertools.combinations(sorted(sh), 2):
            j = len(sh[a] & sh[b]) / max(len(sh[a] | sh[b]), 1)
            if j >= t:
                want[(a, b)] = round(j, 4)
        assert got == want, (t, got.keys() ^ want.keys())


@pytest.mark.parametrize("t,n_a,n_shared", [
    (0.34, 150, 51),   # fl(0.34*150)=51.00000000000001: ceil -> 52
    (0.07, 100, 7),    # fl(0.07*100)=7.000000000000001: ceil -> 8
])
def test_exact_jaccard_join_threshold_rounding_boundary(rows, t, n_a,
                                                        n_shared):
    """Double-rounding completeness regression: with |a| = n_a distinct
    unigram shingles and b an exactly-at-threshold subset
    (J = n_shared/n_a == t), the naive ceil(t*|s|) prefix bound rounds
    one too HIGH (prefix one too short) and the naive t*|a| length
    filter rounds just past |b| — both would drop this pair.  The
    shared tokens are the corpus-FREQUENT ones (df=2 vs df=1), so a's
    rare-first prefix reaches them only in its final slot: the worst
    legal placement."""
    a_words = [f"a{i:03d}" for i in range(n_a)]
    b_words = a_words[-n_shared:]          # most-frequent == last in
    df = rows([(1, " ".join(a_words)),     # rare-first canonical order
               (2, " ".join(b_words))], DOCS)
    sizes = {r["doc_id"]: len(set(r["sh"])) for r in df.select(
        "doc_id", dd.hashed_shingles(F.col("text"), 1).alias("sh")
    ).collect()}
    assert sizes == {1: n_a, 2: n_shared}  # no hash collisions
    got = {(r["id_a"], r["id_b"]): r["jaccard_sim"]
           for r in dd.exact_jaccard_join(df, "text", "doc_id",
                                          n=1, threshold=t).collect()}
    assert got == {(1, 2): round(n_shared / n_a, 4)}


def test_exact_jaccard_join_validates_threshold(rows):
    df = rows([(1, "a b c")], DOCS)
    with pytest.raises(ValueError, match="threshold"):
        dd.exact_jaccard_join(df, threshold=0.0)


def test_exact_jaccard_join_short_doc_fallback(rows):
    """Docs under n tokens shingle to the whole text (hashed_shingles
    fallback): two identical 2-token docs must pair at 1.0 through the
    prefix join, and a 2-token vs 30-token doc must not."""
    long = " ".join(f"w{i}" for i in range(30))
    df = rows([(1, "tiny doc"), (2, "tiny doc"), (3, long)], DOCS)
    got = {(r["id_a"], r["id_b"]): r["jaccard_sim"]
           for r in dd.exact_jaccard_join(df, "text", "doc_id",
                                          n=3, threshold=0.5).collect()}
    assert got == {(1, 2): 1.0}


def test_exact_jaccard_join_two_table_matches_brute_force(rows):
    """R-S mode: exact_jaccard_join(other=) must return the identical
    cross-table pair set as brute force — including a pair whose ids
    collide across sides (ids are only unique per side)."""
    import itertools
    import random
    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(25)]
    mk = lambda: " ".join(rnd.choice(vocab) for _ in range(25))  # noqa: E731
    a_docs = [(i, mk()) for i in range(10)]
    b_docs = [(100 + i, mk()) for i in range(10)]
    b_docs.append((200, a_docs[0][1] + " tail"))       # cross near-dup
    a_docs.append((3, a_docs[1][1]))                   # within-A dup: must NOT pair
    dfa, dfb = rows(a_docs, DOCS), rows(b_docs, DOCS)
    got = {(r["id_a"], r["id_b"]): r["jaccard_sim"]
           for r in dd.exact_jaccard_join(dfa, "text", "doc_id", n=3,
                                          threshold=0.5,
                                          other=dfb).collect()}
    sh = lambda df: {r["doc_id"]: set(r["sh"]) for r in df.select(  # noqa: E731
        "doc_id", dd.hashed_shingles(F.col("text"), 3).alias("sh")).collect()}
    sa, sb = sh(dfa), sh(dfb)
    want = {}
    for i, j in itertools.product(sa, sb):
        jac = len(sa[i] & sb[j]) / max(len(sa[i] | sb[j]), 1)
        if jac >= 0.5:
            want[(i, j)] = round(jac, 4)
    assert got == want, got.keys() ^ want.keys()


def test_minhash_index_lookup_matches_self_join_cross_pairs(rows):
    """Incremental lookup against a frozen index must find exactly the
    CROSS-side subset of what the one-shot self-join finds over the
    union (same seeded families => same band collisions)."""
    base = "the quick brown fox jumps over the lazy dog " * 5
    corpus = [(0, base + "corpus one"), (2, "completely different text "
                                         "about spark aggregation " * 4)]
    batch = [(1, base + "batch copy"), (3, "unrelated short doc")]
    dfc, dfb = rows(corpus, DOCS), rows(batch, DOCS)
    idx = dd.minhash_index(dfc, "text", "doc_id", num_hashes=32, bands=16)
    got = {(r["id_a"], r["id_b"]): r["jaccard_sim"]
           for r in dd.minhash_lookup(dfb, idx, "text", "doc_id",
                                      jaccard_threshold=0.5).collect()}
    union = dfc.unionByName(dfb)
    self_pairs = {(max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"])):
                  r["jaccard_sim"]
                  for r in dd.minhash_lsh_dedup(
                      union, "text", "doc_id", num_hashes=32, bands=16,
                      jaccard_threshold=0.5).collect()
                  if r["id_a"] % 2 != r["id_b"] % 2}
    # lookup keys are (batch_id=odd, corpus_id=even); self-join emits
    # (min,max) — normalize to (odd, even)
    norm = {(a if a % 2 else b, b if a % 2 else a): v
            for (a, b), v in self_pairs.items()}
    assert got == norm and got, (got, norm)


def test_minhash_index_append_equals_fresh_rebuild(rows):
    """Rolling-crawl lifecycle: lookup against (index ∪ appended
    survivors) must equal lookup against a fresh index built over the
    full corpus — band keys are per-document, so union-of-bandings ==
    banding-of-union."""
    base = "the quick brown fox jumps over the lazy dog " * 5
    corpus0 = rows([(0, base + "corpus one"),
                    (2, "spark shuffles partition data " * 5)], DOCS)
    batch1 = rows([(4, base + "batch one copy"),
                   (6, "a fresh unrelated document " * 5)], DOCS)
    batch2 = rows([(1, base + "batch two probe"),
                   (3, "spark shuffles partition data " * 5)], DOCS)
    idx = dd.minhash_index(corpus0, "text", "doc_id",
                           num_hashes=32, bands=16)
    appended = dd.minhash_index_append(idx, batch1, "text", "doc_id")
    assert appended.params == idx.params
    fresh = dd.minhash_index(corpus0.unionByName(batch1), "text",
                             "doc_id", num_hashes=32, bands=16)
    res = lambda ix: sorted(
        (r["id_a"], r["id_b"], r["jaccard_sim"])
        for r in dd.minhash_lookup(batch2, ix, "text", "doc_id",
                                   jaccard_threshold=0.5).collect())
    got_appended, got_fresh = res(appended), res(fresh)
    assert got_appended == got_fresh and got_appended
    # the appended batch's near-dup (id 4) must now be findable
    assert any(b == 4 for _, b, _ in got_appended)
