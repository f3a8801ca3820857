"""Similarity search over embedding columns (beyond-reference surface;
BASELINE.json north star).

Every top-k search runs one staged pipeline, one private helper per
stage:

  _query_batch     collect the small probe batch (``take(max + 1)``):
                   size guard, empty check, duplicate-id check, the
                   nq × dim float64 query matrix
  _partition_topk  one Arrow ``mapInPandas`` fold over the scanned
                   rows: a per-batch scoring callback, a per-PARTITION
                   top-k per query — only k × partitions candidates
                   leave the scan and the corpus never shuffles
  _rank            ``windows.limit_by`` k per query, ties on neighbor id
  _rerank          exact cosine of a shortlist, its float vectors
                   fetched by a bounded broadcast join

The entry points pick their scoring and their candidate source:

  brute_force_topk    exact: BLAS cosine in the fold over the corpus.
  ivf_topk            IVF-style approximate search: k-means-trained
                      coarse centroids (bounded sample), corpus rows
                      assigned to their nearest list, each query
                      probes its ``n_probe`` nearest lists only.
  ivf_index_write /   the same IVF layout AT REST: the corpus written
  ivf_search          partitioned by list id, so a probe is a literal
                      partition filter (~n_probe/nlist of the files);
                      ``pq_m=`` / ``shortlist=`` add IVFADC+R.
  pq_encode/pq_topk   product quantization (Jégou et al., "Product
                      Quantization for Nearest Neighbor Search", TPAMI
                      2011): the corpus compresses to ``m`` one-byte
                      codes per vector (dim·4 bytes → m bytes, 32× at
                      dim 64 / m 8) and queries scan the CODES with a
                      per-query lookup table — at 100 TB the scan reads
                      the compressed column only, which is the
                      difference between an IO-bound and a cache-
                      resident ranking pass.
"""

from __future__ import annotations

import random

import pandas as pd  # module-level: pandas_udf resolves 'pd.Series' hints
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bi_etl_and_integration_spark.operators.windows import limit_by


def cosine_similarity_udf():
    """Arrow-vectorized pairwise cosine for bulk scoring joins: one
    einsum + two norms per batch (float64, BLAS summation order)."""
    import numpy as np

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype="float64")
        av = np.stack(a.to_numpy()).astype(np.float64)
        bv = np.stack(b.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", av, bv)
        den = np.maximum(np.linalg.norm(av, axis=1)
                         * np.linalg.norm(bv, axis=1), 1e-12)
        return pd.Series(num / den)

    return cos


_MAX_QUERY_ROWS = 10_000
"""Default query-side cap of every search that collects its query
set: the contract is a SMALL probe batch, and beyond ~10k queries the
corpus x queries score matrix is the workload — split the batch."""

_MAX_SHORTLIST_ROWS = 250_000
"""Default IVFADC rerank cap on shortlist × nq (ADVICE r10): the
shortlist is collected driver-side to plan the rerank's literal id
pushdown, so its size must stay driver-and-plan-friendly — 250k ids
is ~2 MB collected and a pushable IN set; beyond that, split the
query batch (each split reruns ADC over its own probed lists only)."""


def _query_batch(queries: DataFrame, who: str, query_id_col: str,
                 vec_col: str, max_query_rows: int, force: bool = False):
    """Collect the probe batch a search plans around: at most
    ``max_query_rows`` rows (``take`` one more to detect overflow with
    no count job; ``force`` collects them all), at least one, and no
    repeated query id — per-query top-k lists, probe sets and ADC
    tables are keyed by it, so a duplicate would silently merge two
    queries.  Returns the query ids and the nq × dim float64 matrix."""
    import numpy as np
    sel = queries.select(F.col(query_id_col), F.col(vec_col))
    qrows = sel.collect() if force else sel.take(max_query_rows + 1)
    if not force and len(qrows) > max_query_rows:
        raise ValueError(
            f"{who}: queries has > {max_query_rows} rows; the whole "
            "query set is collected to the driver (small-probe-batch "
            "contract). Split it into batches of at most "
            "max_query_rows (ivf_search probes each batch against the "
            "index at rest), or search a large query set with "
            "ivf_topk, which joins the queries instead of collecting "
            "them")
    if not qrows:
        raise ValueError(f"{who}: queries is empty")
    qids = [r[0] for r in qrows]
    if len(set(qids)) != len(qids):
        raise ValueError(
            f"{who}: duplicate query ids in the probe batch — "
            "de-duplicate or re-key the query set")
    return qids, np.stack([np.asarray(r[1], dtype=np.float64)
                           for r in qrows])


def _partition_topk(rows: DataFrame, score, qids: list, k: int,
                    qfield, score_col: str, id_col: str) -> DataFrame:
    """Per-partition top-k per query in ONE Arrow ``mapInPandas``
    pass over ``rows``.  ``score(pdf)`` yields ``(j, ids, scores)``
    for each query j a batch scores; each batch keeps its top k per
    query, the partition folds those to its own top k, and only those
    k × partitions rows per query reach :func:`_rank`.  Order is
    (score desc, id asc), so ties at the k boundary are deterministic.
    Output: (``qfield``, id_col, score_col), the input id types."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType
    out_schema = StructType([qfield, rows.schema[id_col],
                             StructField(score_col, DoubleType(), True)])

    def fold(batches):
        parts_s = [[] for _ in qids]
        parts_i = [[] for _ in qids]
        for pdf in batches:
            if not len(pdf):
                continue
            for j, ids, s in score(pdf):
                order = np.lexsort((ids, -s))[:k]
                parts_s[j].append(s[order])
                parts_i[j].append(ids[order])
        out_q, out_i, out_s = [], [], []
        for j, qid in enumerate(qids):
            if parts_s[j]:
                s = np.concatenate(parts_s[j])
                i = np.concatenate(parts_i[j])
                order = np.lexsort((i, -s))[:k]
                out_s.append(s[order])
                out_i.append(i[order])
                out_q.extend([qid] * len(order))
        if out_s:                      # empty partition: yield nothing
            yield pd.DataFrame({qfield.name: out_q,
                                id_col: np.concatenate(out_i),
                                score_col: np.concatenate(out_s)})

    return rows.mapInPandas(fold, out_schema)


def _rank(scored: DataFrame, k: int, query_id_col: str, id_col: str,
          score_col: str = "cosine_sim") -> DataFrame:
    """The top ``k`` rows per query by (score desc, id asc):
    (query_id, id, score, rank)."""
    return (limit_by(scored, [query_id_col],
                     [F.col(score_col).desc(), F.col(id_col)], k,
                     rank_col="rank")
            .select(query_id_col, id_col, score_col, "rank"))


def _cosine_rank(pairs: DataFrame, k: int, query_id_col: str,
                 id_col: str) -> DataFrame:
    """Exact cosine of each (``__cv``, ``__qv``) candidate pair,
    ranked per query."""
    return _rank(pairs.withColumn(
        "cosine_sim", cosine_similarity_udf()(F.col("__cv"),
                                              F.col("__qv"))),
        k, query_id_col, id_col)


def _rerank(fetch: DataFrame, shortlist: DataFrame, qv: DataFrame,
            k: int, *, id_col: str, vec_col: str,
            query_id_col: str) -> DataFrame:
    """Exact re-rank (IVFADC+R, Jégou et al. 2011 §V): ``shortlist``
    holds the (query_id, id) pairs an approximate leg kept; their
    float vectors come from ``fetch`` by a broadcast join (the
    shortlist side is queries × shortlist rows — bounded, never a
    corpus shuffle), ``qv`` supplies (query_id, ``__qv``), and exact
    cosine picks the final top ``k``."""
    return _cosine_rank(
        fetch.select(F.col(id_col), F.col(vec_col).alias("__cv"))
        .join(F.broadcast(shortlist), id_col)
        .join(F.broadcast(qv), query_id_col),
        k, query_id_col, id_col)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10, *,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     max_query_rows: int = _MAX_QUERY_ROWS,
                     force: bool = False) -> DataFrame:
    """Exact cosine top-k per query.

    The query set — small by contract, it is the probe batch — is
    collected and ships to every task in the plan; ONE Arrow
    ``mapInPandas`` pass scores each corpus batch with a single BLAS
    matmul and keeps a per-PARTITION top-k per query, so only
    ``k × partitions`` candidate rows (not corpus × queries) reach the
    final per-query ranking window.  The corpus itself never shuffles.

    Output: (query_id, vec_id, cosine_sim, rank), deterministic
    tie-break on neighbor id.

    The WHOLE query set lands on the driver, so the small-|Q| contract
    is enforced mechanically: more than ``max_query_rows`` queries
    raises ValueError unless ``force=True``, and so do repeated query
    ids.  A large query set belongs on :func:`ivf_topk` (a join, not a
    collect) or split into batches for :func:`ivf_search`."""
    import numpy as np
    qids, qmat = _query_batch(queries, "brute_force_topk", query_id_col,
                              vec_col, max_query_rows, force)
    qnorm = np.maximum(np.linalg.norm(qmat, axis=1), 1e-12)

    def cosine(pdf):
        ids = pdf[id_col].to_numpy()
        c = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        den = np.maximum(np.linalg.norm(c, axis=1), 1e-12)[:, None] \
            * qnorm[None, :]
        sims = (c @ qmat.T) / den            # batch × nq
        return ((j, ids, sims[:, j]) for j in range(len(qids)))

    cand = _partition_topk(corpus.select(F.col(id_col), F.col(vec_col)),
                           cosine, qids, k, queries.schema[query_id_col],
                           "cosine_sim", id_col)
    return _rank(cand, k, query_id_col, id_col)

def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def sign_buckets_udf(n_planes: int, seeds: list[int]):
    """Arrow-vectorized multi-probe bucketing: returns a pandas_udf
    mapping an embedding column to array<long> of one sign-bucket id
    per seed — ALL probes in one ``batch × dim @ dim × total`` BLAS
    matmul, ~100x less per-element overhead than interpreted
    per-plane array folds.

    Probe i's planes are ``random_hyperplanes(width, n_planes,
    seeds[i])``, drawn inside the worker from the batch's vector
    width — the same ``random.Random`` stream the driver would draw,
    so bucket ids need no driver-side job to learn the width.
    Bit i of a bucket id is ``vec · plane_i >= 0``, up to dot products
    within float rounding of zero (BLAS accumulation order) —
    immaterial for LSH bucketing, which is approximate by construction.
    """
    import numpy as np

    weights = 1 << np.arange(n_planes, dtype=np.int64)
    planes_for: dict[int, np.ndarray] = {}  # width -> dim × total

    @F.pandas_udf("array<long>")
    def buckets(s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype="object")
        mat = np.stack(s.to_numpy()).astype(np.float64)
        width = mat.shape[1]
        if width not in planes_for:
            planes_for[width] = np.hstack(
                [np.asarray(random_hyperplanes(width, n_planes, seed),
                            dtype=np.float64).T
                 for seed in seeds])
        signs = (mat @ planes_for[width]) >= 0
        return pd.Series(list(np.column_stack(
            [signs[:, i * n_planes:(i + 1) * n_planes] @ weights
             for i in range(len(seeds))])))

    return buckets


def _lloyd(x, init, n_iter: int, *, spherical: bool):
    """The package's one Lloyd k-means loop, driver-side numpy over a
    bounded sample.  Each iteration assigns every row of ``x`` to the
    centroid with the largest ``2x·c − |c|²`` (nearest by L2; for unit
    rows and unit centroids the same order as cosine), ties to the
    lower index — one sample × k BLAS matmul — then moves each
    centroid to the mean of its members, renormalized when
    ``spherical``.  An emptied cluster is reseeded to the point
    farthest from its assigned centroid, and that point is marked
    taken so no two clusters reseed to it in one iteration (with every
    point taken — fewer rows than clusters — it keeps its centroid).
    The caller owns the seeding: ``init`` (k × dim) is copied, never
    modified.  Returns ``(centroids, assign)``, ``assign`` being each
    row's centroid index under the returned centroids."""
    import numpy as np
    cents = np.array(init, dtype=np.float64)
    xx = np.einsum("ij,ij->i", x, x)

    def nearest():
        score = 2.0 * (x @ cents.T) - np.einsum("ij,ij->i", cents, cents)
        assign = np.argmax(score, axis=1)
        return assign, xx - score[np.arange(len(x)), assign]

    for _ in range(max(0, n_iter)):
        assign, far = nearest()
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12) \
                    if spherical else m
            elif far.max() > -np.inf:
                worst = int(np.argmax(far))
                cents[c] = x[worst]
                assign[worst] = c
                far[worst] = -np.inf
    return cents, nearest()[0]


def _train_sample(frame: DataFrame, vec_col: str, n: int):
    """The bounded training sample every trainer collects: the first
    ``n`` vectors of ``frame`` as an n × dim float64 matrix — at
    100 TB the only corpus data that reaches the driver."""
    import numpy as np
    return np.asarray([r[0] for r in frame.select(vec_col).limit(n)
                       .collect()], dtype=np.float64)


def _ivf_train(corpus: DataFrame, vec_col: str, nlist: int, seed: int,
               train_iters: int, train_size: int | None):
    """Shared IVF coarse-quantizer training (faiss-style): spherical
    :func:`_lloyd` on a bounded sample (default 64 x nlist rows, at
    least 2048), seeded by a ``default_rng(seed)`` draw.  Returns the
    dim × nlist centroid matrix (unit rows, transposed for dot)."""
    import numpy as np
    if train_size is None:
        train_size = max(nlist * 64, 2048)
    x = _train_sample(corpus, vec_col, train_size)
    xu = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    if len(xu) <= nlist:
        return xu.T
    # trained centroids: balanced lists -> each probe reads ~1/nlist
    # of the corpus instead of whatever a raw sample happened to cut
    seeds = xu[np.random.default_rng(seed).choice(len(xu), size=nlist,
                                                  replace=False)]
    return _lloyd(xu, seeds, train_iters, spherical=True)[0].T


def _ivf_nearest_udf(cmat, n: int):
    """pandas_udf: n nearest coarse lists per vector (argmax dot
    against the unit-row centroid matrix — cosine order for any input
    scale)."""
    import numpy as np

    @F.pandas_udf("array<long>")
    def nearest(s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype="object")
        sims = np.stack(s.to_numpy()).astype(np.float64) @ cmat
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n]
        return pd.Series(list(order.astype(np.int64)))
    return nearest


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10, *,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", nlist: int = 16,
             n_probe: int = 4, seed: int = 42,
             train_iters: int = 5, train_size: int | None = None
             ) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus to ``nlist``
    k-means-trained centroids, probe the ``n_probe`` closest lists per
    query.  ``train_iters`` Lloyd iterations run driver-side on a
    bounded training sample (``train_size``, default 64 x nlist rows
    a la faiss) — at 100 TB the sample collect is the only data that
    ever reaches the driver; set ``train_iters=0`` to fall back to raw
    sampled seeds.

    At scale the assignment output is written partitioned by
    ``centroid_id`` so a probe reads only matching partitions —
    :func:`ivf_index_write` / :func:`ivf_search` are that persisted
    form (partition pruning does the fan-out reduction).

    The queries are joined, not collected, so the duplicate-id check
    of the collecting searches runs inside the plan: a repeated query
    id fails the query when it executes instead of silently merging
    two queries' probe sets and top-k lists."""
    cmat = _ivf_train(corpus, vec_col, nlist, seed, train_iters,
                      train_size)
    assigned = corpus.select(
        F.col(id_col), F.col(vec_col).alias("__cv"),
        _ivf_nearest_udf(cmat, 1)(F.col(vec_col))[0].alias("__list"))
    repeated = F.count(F.lit(1)).over(Window.partitionBy(query_id_col)) > 1
    checked = queries.select(
        F.col(query_id_col),
        F.when(repeated, F.raise_error(F.lit(
            "ivf_topk: duplicate query ids in the query set — "
            "de-duplicate or re-key the query set")))
        .otherwise(F.col(vec_col)).alias(vec_col))
    probes = checked.select(
        F.col(query_id_col), F.col(vec_col).alias("__qv"),
        F.explode(_ivf_nearest_udf(cmat, n_probe)(F.col(vec_col)))
        .alias("__list"))
    return _cosine_rank(assigned.join(F.broadcast(probes), "__list"),
                        k, query_id_col, id_col)


def ivf_index_write(corpus: DataFrame, index_dir: str, *,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    nlist: int = 16, seed: int = 42,
                    train_iters: int = 5,
                    train_size: int | None = None,
                    centroids=None, pq_m: int | None = None,
                    pq_nbits: int = 6,
                    pq_train_iters: int = 8) -> None:
    """Persist an IVF index AT REST: one :class:`SnapshotTable` at
    ``index_dir`` whose data is the corpus PARTITIONED BY its coarse
    list id, with the trained centroids as a sidecar of the same
    commit — the faiss inverted-file layout expressed as a parquet
    partition scheme.  A rebuild is a new version: a reader sees the
    old version or the new one, never new vectors with old centroids,
    and an interrupted rebuild leaves the old version searchable.

    Why this is the 100 TB search shape (vs :func:`ivf_topk`, which
    re-assigns the corpus per query batch): assignment is paid ONCE
    at build; every probe afterwards is a scan whose
    ``centroid_id IN (...)`` filter is a plan-literal PARTITION
    FILTER, so the scan lists and reads ~n_probe/nlist of the corpus
    files and nothing else (asserted in tests/test_plans.py).  The
    index is append-friendly via :func:`ivf_index_append`: new
    batches assign against the STORED centroids and append into the
    same partition scheme (certified append == rebuild by driver
    query x44b and tests/test_similarity.py).

    ``centroids`` (dim × nlist array, unit columns) skips training
    and quantizes against the given matrix — the rebuild-with-frozen-
    centroids path that makes append certification possible.

    ``pq_m`` switches on the IVFADC layout (Jégou et al. 2011): each
    vector additionally stores ``pq_m`` one-byte subspace codes
    (trained on the same bounded sample, L2-normalized — cosine
    metric), persisted as a ``pq_code`` column in the same files and
    the codebooks as a second sidecar.  An
    :func:`ivf_search` with ``shortlist=`` then runs its candidate
    scan over the CODES column only — at 100 TB the probe reads
    ~n_probe/nlist of the files AND only m bytes per row of them;
    the float vectors are touched just for the shortlist re-rank.
    A rebuild without ``pq_m`` commits a version with no codebooks."""
    import numpy as np

    from bi_etl_and_integration_spark.sources.snapshots import (
        SnapshotTable)
    spark = corpus.sparkSession
    table = SnapshotTable(spark, index_dir)
    if centroids is not None:
        cmat = np.asarray(centroids, dtype=np.float64)
    else:
        cmat = _ivf_train(corpus, vec_col, nlist, seed, train_iters,
                          train_size)
    assigned = corpus.withColumn(
        "centroid_id",
        _ivf_nearest_udf(cmat, 1)(F.col(vec_col))[0].cast("int"))
    cents = [(int(i), [float(x) for x in cmat[:, i]])
             for i in range(cmat.shape[1])]
    sidecars = {"centroids": table._stage(spark.createDataFrame(
        cents, "centroid_id int, centroid array<double>").coalesce(1))[0]}
    if pq_m is not None:
        books = _pq_books(corpus, vec_col, pq_m, pq_nbits, pq_train_iters,
                          seed, train_size)
        assigned = pq_encode(assigned, books, vec_col=vec_col)
        brows = [(int(j), int(c), [float(v) for v in books[j, c]])
                 for j in range(books.shape[0])
                 for c in range(books.shape[1])]
        sidecars["pq_books"] = table._stage(spark.createDataFrame(
            brows, "subspace int, code int, center array<double>")
            .coalesce(1))[0]
    # one shuffle by list: AQE packs each list into advisory-size files
    # (and still splits a large one) instead of one file per (input
    # partition, list)
    table._commit("overwrite",
                  *table._stage(assigned.hint("rebalance", "centroid_id"),
                                "centroid_id"), sidecars=sidecars)


def _ivf_centroids(t):
    """Stored centroid rows -> the dim × nlist matrix + id vector the
    quantizer udf expects (ids need not be contiguous — the matrix
    column order follows the sorted id order and lookups go through
    the id vector)."""
    import numpy as np
    rows = sorted(zip(t.column("centroid_id").to_pylist(),
                      t.column("centroid").to_pylist()))
    if not rows:
        raise ValueError("ivf index: empty centroid table")
    cmat = np.asarray([c for _, c in rows], dtype=np.float64).T
    cid = np.asarray([i for i, _ in rows])
    for a in (cmat, cid):
        a.setflags(write=False)        # every cache hit shares them
    return cmat, cid


def _ivf_pq_books(t):
    """Stored PQ codebook rows -> the (m, ksub, dsub) array
    :func:`pq_encode` expects."""
    import numpy as np
    sub, code, center = (t.column(c).to_pylist()
                         for c in ("subspace", "code", "center"))
    books = np.empty((max(sub) + 1, max(code) + 1, len(center[0])))
    books[sub, code] = center
    books.setflags(write=False)        # every cache hit shares it
    return books


def _ivf_index(spark, index_dir: str):
    """(table, version, (cmat, cid), books) of the index's latest
    version — books None without ``pq_m``.  Everything comes from ONE
    pinned version, so a search or an append never pairs vectors with
    another version's quantizers.  The sidecars are decoded once per
    committed version in a session (``snapshots._sidecar``)."""
    from bi_etl_and_integration_spark.sources.snapshots import (
        SnapshotTable, _sidecar)
    table = SnapshotTable(spark, index_dir)
    version = table.latest_version()
    if version is None:
        raise FileNotFoundError(f"ivf index: {index_dir} has no "
                                "committed version")
    return (table, version,
            _sidecar(table.path, version, "centroids", _ivf_centroids),
            _sidecar(table.path, version, "pq_books", _ivf_pq_books))


def ivf_index_append(batch: DataFrame, index_dir: str, *,
                     vec_col: str = "embedding") -> None:
    """Fold a new batch into a persisted :func:`ivf_index_write` index
    WITHOUT a rebuild — the continuous-ingestion shape (a rolling
    crawl embeds each new batch and makes it searchable without
    re-reading the corpus): the batch quantizes against the index's
    OWN stored centroids (never retrained — retraining would strand
    the at-rest corpus under stale list boundaries) and appends into
    the same ``centroid_id=`` partition scheme, so a later
    :func:`ivf_search` partition-prunes over old and new rows alike.

    Append == rebuild by construction: assignment is a pure function
    of (vector, stored centroids), so appending batch B to an index
    over corpus A lays out every row exactly where
    ``ivf_index_write(A ∪ B, centroids=stored)`` would — certified
    bit-exact in tests/test_similarity.py and end-to-end by driver
    query x44b.  Cost: one narrow Arrow map over the batch, one
    shuffle by list id (about one new file per list) and one
    partitioned write committed as the next version, which carries the
    parent's centroids and codebooks; the existing index files are
    never touched."""
    table, _, (cmat, cid), books = _ivf_index(batch.sparkSession,
                                              index_dir)
    nearest = _ivf_nearest_udf(cmat, 1)(F.col(vec_col))[0]
    assigned = batch.withColumn(
        "centroid_id",
        # stored ids need not be contiguous: map the argmax POSITION
        # back through the id vector (plan-literal array lookup)
        F.array([F.lit(int(i)) for i in cid])[nearest].cast("int"))
    if books is not None:
        # IVFADC index: the batch's codes come from the index's OWN
        # stored codebooks (retraining them would make old and new
        # codes incomparable under one query LUT)
        assigned = pq_encode(assigned, books, vec_col=vec_col)
    table.write(assigned.hint("rebalance", "centroid_id"), "append")


def ivf_search(spark, index_dir: str, queries: DataFrame, k: int = 10,
               *, n_probe: int = 4, id_col: str = "vec_id",
               vec_col: str = "embedding",
               query_id_col: str = "query_id",
               shortlist: int | None = None,
               max_query_rows: int = _MAX_QUERY_ROWS,
               max_shortlist_rows: int = _MAX_SHORTLIST_ROWS
               ) -> DataFrame:
    """Probe a persisted :func:`ivf_index_write` index: per query, the
    ``n_probe`` nearest stored centroids are computed DRIVER-SIDE
    (queries are a small probe batch — same collect contract and
    guards as :func:`brute_force_topk`), their union becomes a literal
    ``centroid_id IN (...)`` predicate on the vectors table — a
    PARTITION FILTER, so only the probed lists' files are listed and
    read — and exact cosine + a per-query window rank the survivors.

    ``shortlist`` (> k, requires a ``pq_m``-built index) switches the
    candidate scan to IVFADC (Jégou et al. 2011): the pruned scan
    reads ONLY (id, centroid_id, pq_code) — never the float vectors —
    scores candidates via per-query LUTs against each query's own
    probed lists, and the ``shortlist`` ADC survivors per query are
    exact-cosine re-ranked from a second pruned fetch of their float
    rows (IVFADC+R).  The survivor set is bounded (≤ shortlist × nq,
    both driver-chosen dials), so the fetch is planned with the
    collected ids as a literal pushed ``id IN (...)`` predicate —
    parquet row-group skipping INSIDE the probed partitions.  At
    100 TB that makes the dominant scan ~n_probe/nlist of the FILES
    times m bytes of the ROW, and the rerank reads only the
    shortlisted rows' groups.

    NOTE (eager execution, ADVICE r10): with ``shortlist`` set this
    call RUNS the ADC job inside the call (``collect()`` of the
    shortlist) in order to plan the rerank's literal id predicate —
    the returned DataFrame is only the rerank leg.  The collected set
    is bounded by ``shortlist × nq`` and guarded by
    ``max_shortlist_rows`` (mirroring ``max_query_rows``): a probe
    batch whose shortlist set would exceed it raises instead of
    collecting hundreds of thousands of rows onto the driver and
    planting a megabyte-scale IN literal in the rerank plan.

    Output: (query_id, vec_id, cosine_sim, rank), ties on neighbor
    id — the same contract as ivf_topk/brute_force_topk."""
    import numpy as np
    if shortlist is not None and shortlist <= k:
        raise ValueError(f"shortlist ({shortlist}) must exceed k ({k})")
    table, version, (cmat, cid), books = _ivf_index(spark, index_dir)
    qids, qmat = _query_batch(queries, "ivf_search", query_id_col,
                              vec_col, max_query_rows)
    if shortlist is not None and shortlist * len(qids) > max_shortlist_rows:
        raise ValueError(
            f"ivf_search: shortlist × nq = {shortlist} × {len(qids)} "
            f"exceeds max_shortlist_rows ({max_shortlist_rows}); the "
            "IVFADC rerank collects the shortlist to plan a literal id "
            "pushdown — lower shortlist, split the query batch, or "
            "raise max_shortlist_rows")
    order = np.argsort(-(qmat @ cmat), axis=1, kind="stable")
    n_probe = min(n_probe, cmat.shape[1])
    probes = [[int(cid[j]) for j in row[:n_probe]] for row in order]
    # literal IN over the partition column: this is what static
    # partition pruning needs — only the probed lists' directories are
    # listed/read
    vectors = (table.read(version)
               .where(F.col("centroid_id").isin(
                   sorted(set().union(*probes)))))
    qfield = queries.schema[query_id_col]
    qtype = qfield.dataType.simpleString()
    qvecs = qmat.tolist()

    if shortlist is None:
        probe_df = spark.createDataFrame(
            [(q, c, v) for q, ps, v in zip(qids, probes, qvecs)
             for c in ps],
            f"{query_id_col} {qtype}, centroid_id int, "
            "__qv array<double>")
        # no dedup needed: each corpus vector lives in exactly one
        # partition and per-query probe lists are distinct centroid ids
        return _cosine_rank(
            vectors.select(F.col(id_col), F.col("centroid_id"),
                           F.col(vec_col).alias("__cv"))
            .join(F.broadcast(probe_df), "centroid_id"),
            k, query_id_col, id_col)

    # ---- IVFADC path: ADC over the codes column, exact re-rank ----
    if books is None:
        raise ValueError(
            "ivf_search: shortlist= needs an IVFADC index — rebuild "
            "with ivf_index_write(pq_m=...) to store pq codes")
    cand = _partition_topk(
        # the ADC scan never touches the float vectors: reading only
        # (id, centroid_id, pq_code) is the IVFADC payoff
        vectors.select(F.col(id_col), "centroid_id", "pq_code"),
        _adc_scorer(_adc_luts(qmat, books), id_col, probes),
        qids, shortlist, qfield, "adc_score", id_col)
    # materialize the bounded shortlist (≤ shortlist × nq rows, both
    # driver-chosen dials) so the rerank scan carries a LITERAL id
    # predicate: partition pruning already narrows the fetch to the
    # probed FILES; the pushed `id IN (...)` adds parquet row-group /
    # page skipping WITHIN them — at 100 TB the rerank reads only the
    # shortlisted rows' groups instead of n_probe/nlist of the float
    # corpus (VERDICT r9 item 5)
    short_rows = (_rank(cand, shortlist, query_id_col, id_col, "adc_score")
                  .select(query_id_col, id_col).collect())
    from pyspark.sql.types import StructField, StructType
    pairs = spark.createDataFrame(
        [(r[0], r[1]) for r in short_rows],
        StructType([StructField(query_id_col, qfield.dataType, True),
                    vectors.schema[id_col]]))
    short_ids = sorted({r[1] for r in short_rows})
    qv = spark.createDataFrame(
        list(zip(qids, qvecs)),
        f"{query_id_col} {qtype}, __qv array<double>")
    fetch = vectors.where(F.col(id_col).isin(short_ids)) if short_ids \
        else vectors
    return _rerank(fetch, pairs, qv, k, id_col=id_col, vec_col=vec_col,
                   query_id_col=query_id_col)


def _pq_train(x, m: int, nbits: int, n_iter: int, seed: int):
    """Driver-side PQ codebook training on a bounded sample: split the
    dim into ``m`` contiguous subspaces, run :func:`_lloyd` with
    ``2**nbits`` centroids in each.  Returns (m, ksub, dsub) float64.
    Rows of ``x`` must already be L2-normalized when the downstream
    metric is cosine (pq_topk does this)."""
    import numpy as np
    n, dim = x.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    ksub = 1 << nbits
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = x[:, j * dsub:(j + 1) * dsub]
        # a degenerate sample (n <= ksub) seeds with repeats
        seeds = sub[rng.choice(n, size=ksub, replace=n <= ksub)]
        books[j] = _lloyd(sub, seeds, n_iter, spherical=False)[0]
    return books


def pq_encode(corpus: DataFrame, books, *, vec_col: str = "embedding",
              out_col: str = "pq_code", normalize: bool = True
              ) -> DataFrame:
    """Add the PQ code column: ``array<smallint>`` of ``m`` centroid
    ids.  One Arrow batch = one gemm per subspace; narrow map, zero
    shuffle.  ``normalize`` must match how the books were trained."""
    import numpy as np
    books = np.asarray(books, dtype=np.float64)
    m, ksub, dsub = books.shape
    cc = [(books[j] * books[j]).sum(1) for j in range(m)]

    @F.pandas_udf("array<smallint>")
    def encode(s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype="object")
        x = np.stack(s.to_numpy()).astype(np.float64)
        if normalize:
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True),
                            1e-12)
        codes = np.empty((len(x), m), dtype=np.int16)
        for j in range(m):
            sub = x[:, j * dsub:(j + 1) * dsub]
            codes[:, j] = np.argmax(
                2.0 * (sub @ books[j].T) - cc[j][None, :], axis=1)
        return pd.Series(list(codes))

    return corpus.withColumn(out_col, encode(F.col(vec_col)))


def _pq_books(corpus: DataFrame, vec_col: str, m: int, nbits: int,
              n_iter: int, seed: int, train_size: int | None):
    """Sample-and-train PQ codebooks: collect a bounded sample
    (default ``max(32 · 2^nbits, 4096)`` rows), L2-normalize it (the
    cosine metric) and run :func:`_pq_train` on it."""
    import numpy as np
    if train_size is None:
        train_size = max((1 << nbits) * 32, 4096)
    x = _train_sample(corpus, vec_col, train_size)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return _pq_train(x, m, nbits, n_iter, seed)


def _adc_luts(qmat, books):
    """Per-query ADC lookup tables (nq × m × ksub): each L2-normalized
    query's subspace slice dotted with that subspace's codebook — the
    whole ADC trick is that this is computed per QUERY, not per row."""
    import numpy as np
    m, _, dsub = books.shape
    qn = qmat / np.maximum(
        np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    return np.stack([
        np.stack([qn[qi, j * dsub:(j + 1) * dsub] @ books[j].T
                  for j in range(m)])
        for qi in range(len(qn))])


def _adc_scorer(luts, id_col: str, probes=None):
    """:func:`_partition_topk` callback for ADC: a row's score for
    query q is the sum of q's table entries at the row's ``pq_code``.
    With ``probes`` (IVFADC: query q's probed list ids) each query
    scores only rows of its own lists — the scan reads their union,
    the mask keeps IVF semantics exact."""
    import numpy as np
    j_idx = np.arange(luts.shape[1])

    def score(pdf):
        ids = pdf[id_col].to_numpy()
        codes = np.stack(pdf["pq_code"].to_numpy()).astype(np.int64)
        if probes is None:
            for qi, lut in enumerate(luts):
                yield qi, ids, lut[j_idx[None, :], codes].sum(axis=1)
            return
        cids = pdf["centroid_id"].to_numpy()
        for qi, lut in enumerate(luts):
            sel = np.isin(cids, probes[qi])
            if sel.any():
                yield (qi, ids[sel],
                       lut[j_idx[None, :], codes[sel]].sum(axis=1))
    return score


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 10, *,
            id_col: str = "vec_id", vec_col: str = "embedding",
            query_id_col: str = "query_id", m: int = 8, nbits: int = 8,
            seed: int = 42, train_iters: int = 8,
            train_size: int | None = None,
            shortlist: int | None = None) -> DataFrame:
    """PQ approximate cosine top-k via asymmetric distance computation
    (ADC): corpus vectors are L2-normalized and quantized to ``m``
    byte codes; each query builds an (m × 2^nbits) table of
    subspace dot products ONCE, and scoring a corpus row is ``m``
    table lookups summed — no float vector is ever read in the scan.

    Shape mirrors ``brute_force_topk``'s scale contract and guards:
    the query set is the small probe batch (at most
    ``_MAX_QUERY_ROWS`` rows, unique ids; it ships to every task), the
    corpus never shuffles, per-partition top-k bounds what reaches the
    final ranking window to k × partitions rows.  At 100 TB the codes
    column (m bytes/row) is what the scan reads — persist it once via
    ``pq_encode`` and reuse across query batches.

    Output: (query_id, vec_id, adc_score, rank) — adc_score
    approximates the cosine; ties break on neighbor id.

    ``shortlist`` (> k) switches on exact RE-RANKING (IVFADC+R,
    Jégou et al. 2011 §V): ADC selects ``shortlist`` candidates per
    query, their FLOAT vectors are fetched by id (a broadcast join of
    queries × shortlist rows against the corpus — bounded, never a
    corpus shuffle) and exact cosine re-ranks the final top ``k``.
    Output is then (query_id, vec_id, cosine_sim, rank): the exact
    metric, with ADC deciding only which candidates are considered —
    the standard dial that buys back most of the quantization recall
    for one extra bounded join."""
    if shortlist is not None and shortlist <= k:
        raise ValueError(f"shortlist ({shortlist}) must exceed k ({k})")
    qids, qmat = _query_batch(queries, "pq_topk", query_id_col, vec_col,
                              _MAX_QUERY_ROWS)
    books = _pq_books(corpus, vec_col, m, nbits, train_iters, seed,
                      train_size)
    adc_k = shortlist if shortlist is not None else k
    cand = _partition_topk(
        pq_encode(corpus, books, vec_col=vec_col)
        .select(F.col(id_col), "pq_code"),
        _adc_scorer(_adc_luts(qmat, books), id_col),
        qids, adc_k, queries.schema[query_id_col], "adc_score", id_col)
    ranked = _rank(cand, adc_k, query_id_col, id_col, "adc_score")
    if shortlist is None:
        return ranked
    return _rerank(corpus, ranked.select(query_id_col, id_col),
                   queries.select(F.col(query_id_col),
                                  F.col(vec_col).alias("__qv")),
                   k, id_col=id_col, vec_col=vec_col,
                   query_id_col=query_id_col)


#: relative half-width of the BLAS-vs-exact-fold disagreement band for
#: squared-L2 distances.  float64 matmul error for dim≤4096 unit-scale
#: data is ≤ ~1e-12 relative; 1e-6 is six orders of safety, and band
#: hits stay astronomically rare on real embeddings (exact ties —
#: duplicated centroids — always land in the band and are re-decided
#: exactly, which is the point).
_ASSIGN_EPS = 1e-6

#: centroid count at which the Arrow path switches from the flat
#: O(n·k) distance matrix to the triangle-inequality-pruned coarse
#: search over ~sqrt(k) super-centroids (VERDICT r7 item 1: at the
#: k ∝ n/target scaling semantic_dedup needs, flat assignment is
#: O(n²/target) — THE second-decade cost).  Below 64 the super layer
#: is overhead (G≈8 supers prune almost nothing and the flat matmul
#: is already one cheap gemm).
_COARSE_MIN_K = 64


def kmeans_assign(df: DataFrame, centroids: list[tuple[int, list[float]]],
                  *, vec_col: str = "embedding",
                  out_col: str = "cluster",
                  method: str = "auto") -> DataFrame:
    """Assign every row to its nearest centroid (squared-L2; ties break
    on the lower centroid id; a NULL or NaN-bearing embedding gets the
    minimum centroid id).  Two physical strategies, same result bit
    for bit:

    - ``arrow`` (small k): one scalar ``pandas_udf`` pass; the k×dim
      centroid matrix ships once per task and distances come from one
      float64 BLAS matmul per batch.  Exactness is PRESERVED, not
      approximated — the same band argument the semantic_dedup
      dominance pass uses: BLAS decides a row only when the runner-up
      distance is farther than ``_ASSIGN_EPS`` (relative) from the
      minimum; any centroid inside the band is re-decided with the
      exact sequential double fold (``d += (x - y)²`` left to right,
      the op order any engine-portable oracle mirrors), with a
      (distance, id) lexicographic tie rule.  Since the true exact
      argmin's BLAS distance can differ from the BLAS minimum by at
      most 2× the BLAS error (≪ band), it is always among the band
      candidates — so the result equals the exact fold's argmin on
      every input, exact ties included (property-tested).

    - ``coarse`` (large k): the Arrow pass with TRIANGLE-INEQUALITY
      PRUNING (the ball-tree/Elkan idea, one level deep): the k
      centroids are grouped driver-side into G ≈ √k super-centroids
      (tiny numpy Lloyd over k points); each batch computes distances
      to the G supers only, and a group's members are scanned only
      when its lower bound ``(d(v, s_g) − r_g)²`` can still beat the
      best distance found so far (r_g = the group's member radius).
      Per-row cost drops from O(k) to O(√k + scanned members) — the
      wrong-exponent fix for k ∝ n/target scaling — while the result
      stays bit-identical: pruning keeps every group whose bound can
      reach ``dmin + band``, so the band re-decision sees exactly the
      candidates the flat pass would (the bound itself is deflated by
      the BLAS error margin before comparing).

    ``auto`` picks coarse at ``k ≥ _COARSE_MIN_K``, else arrow.  Both
    are narrow zero-shuffle maps over the corpus — exactly how the IVF
    coarse quantizer assigns lists at 100 TB.  Centroid ids must fit
    int32 (the output column's type).
    """
    import math
    if not centroids:
        raise ValueError("kmeans_assign: empty centroid list")
    for cid, vec in centroids:
        if not all(math.isfinite(float(x)) for x in vec):
            # a NaN/inf centroid would silently poison every BLAS
            # distance row (D.min() = NaN -> empty band -> min-cid
            # fallback) instead of returning the true argmin over the
            # finite centroids — refuse loudly (ADVICE r7)
            raise ValueError(
                f"kmeans_assign: centroid {cid} contains a non-finite "
                "value; clean the centroid list (kmeans_fit never "
                "produces one from finite input)")
    if method == "auto":
        method = "coarse" if len(centroids) >= _COARSE_MIN_K else "arrow"
    if method not in ("arrow", "coarse"):
        raise ValueError(f"kmeans_assign: unknown method {method!r}")
    return _kmeans_assign_arrow(df, centroids, vec_col, out_col,
                                coarse=(method == "coarse"))


def _group_centroids(C, G: int, n_iter: int = 10):
    """:func:`_lloyd` over the k centroid POINTS: group them into G
    super-clusters for the coarse assignment path.  Returns
    ``(group_of[k], supers[G × dim], radius[G])`` where ``radius[g]``
    = max true L2 distance from super g to its members (the
    triangle-inequality bound's term, valid for any grouping).
    Deterministic: seeds are G evenly spaced rows of C (caller
    order).  Cost is O(k·G·dim) numpy on the driver — the
    same driver-holds-k·dim contract kmeans_assign already has."""
    import numpy as np
    k = len(C)
    if G >= k:
        return (np.arange(k), C.copy(), np.zeros(k))
    supers, group_of = _lloyd(
        C, C[np.round(np.linspace(0, k - 1, G)).astype(int)],
        max(1, n_iter), spherical=False)
    dist = np.sqrt(np.maximum(((C - supers[group_of]) ** 2).sum(1), 0.0))
    radius = np.zeros(G)
    np.maximum.at(radius, group_of, dist)
    return group_of, supers, radius


def _kmeans_assign_arrow(df: DataFrame,
                         centroids: list[tuple[int, list[float]]],
                         vec_col: str, out_col: str, *,
                         coarse: bool = False) -> DataFrame:
    import math

    cids = [int(c) for c, _ in centroids]
    if any(not (-2**31 <= c < 2**31) for c in cids):
        # the output column is int32; refuse loudly instead of
        # silently wrapping a 64-bit centroid id
        raise ValueError(
            "kmeans_assign: centroid ids must fit int32; re-number "
            "the centroids (enumerate())")
    cvecs = [[float(x) for x in v] for _, v in centroids]

    coarse_prep = None
    if coarse:
        import numpy as np
        Cmat = np.asarray(cvecs, dtype=np.float64)
        G = max(1, int(math.ceil(math.sqrt(len(cvecs)))))
        group_of, supers, radius = _group_centroids(Cmat, G)
        # member index lists per group, as plain lists (ship small)
        members = [np.nonzero(group_of == g)[0].tolist()
                   for g in range(len(supers))]
        coarse_prep = (supers.tolist(), radius.tolist(), members)

    # SCALAR pandas_udf, not mapInPandas (round 8, measured at sf10):
    # the whole-row mapInPandas shipped every passenger column AND the
    # embedding array back OUT of Python per pass — Arrow-encoding the
    # array column on the return leg alone was ~2s of the 5s pass; the
    # scalar form ships the embedding IN once and 4 bytes/row OUT
    # (5.0 s -> 0.7 s per fresh assignment plan, k=800/200k rows).
    # withColumn also preserves a pre-existing out_col's position.
    def assign_series(s):
        import numpy as np
        import pandas as pd

        cid = np.asarray(cids, dtype=np.int64)
        C = np.asarray(cvecs, dtype=np.float64)          # k × dim
        Cn = np.einsum("ij,ij->i", C, C)
        min_cid = int(cid.min())
        dim = C.shape[1]
        if not len(s):
            return pd.Series([], dtype="int32")
        # NULL embeddings behave like all-NaN vectors: every distance
        # is non-comparable, so no centroid lands in the band and the
        # row falls through to the MIN centroid id
        cells = [c if c is not None else np.full(dim, np.nan)
                 for c in s.to_numpy()]
        V = np.stack(cells).astype(np.float64)
        Vn = np.einsum("ij,ij->i", V, V)
        out = np.full(len(V), min_cid, dtype=np.int64)

        def exact_best(i, cand):
            best = None
            for j in cand:
                d = 0.0
                for x, y in zip(V[i], C[j]):       # sequential fold
                    t = x - y
                    d += t * t
                pair = (d, int(cid[j]))
                if best is None or pair < best:
                    best = pair
            return best[1]

        if coarse_prep is None:
            # flat: expansion form ||v||²-2v·c+||c||² — but ||v||² is
            # CONSTANT per row, so the argmin and the band test run on
            # T = -2·V@Cᵀ + ||c||² built IN PLACE (r8, measured: the
            # naive Vn[:,None]-2M+Cn broadcast allocated two n×k
            # temporaries and was 5-10× the matmul's cost at k=800 —
            # pure memory traffic).  D = Vn + T only materializes as
            # the per-row scalar dmin for the band width.  BLAS
            # decides single-band-candidate rows; multi-candidate rows
            # are re-decided with the exact sequential fold + (d, cid)
            # lexicographic tie rule; zero candidates (NaN) fall to
            # the min centroid id.
            T = V @ C.T
            T *= -2.0
            T += Cn[None, :]
            tmin = T.min(axis=1)
            band = _ASSIGN_EPS * (1.0 + np.abs(Vn + tmin))
            in_band = T <= (tmin + band)[:, None]
            out = cid[np.argmax(in_band, axis=1)]
            out[~in_band.any(axis=1)] = min_cid
            for i in np.nonzero(in_band.sum(axis=1) > 1)[0]:
                out[i] = exact_best(i, np.nonzero(in_band[i])[0])
            return pd.Series(out.astype("int32"))

        # ---- coarse path ----
        S = np.asarray(coarse_prep[0], dtype=np.float64)   # G × dim
        Sn = np.einsum("ij,ij->i", S, S)
        radius_a = np.asarray(coarse_prep[1], dtype=np.float64)
        members_a = [np.asarray(m, dtype=np.int64)
                     for m in coarse_prep[2]]
        empty_g = np.asarray([len(m) == 0 for m in members_a])
        valid = np.isfinite(Vn)         # NaN rows keep the min_cid
        rows_all = np.nonzero(valid)[0]
        if len(rows_all):
            Vv, Vvn = V[rows_all], Vn[rows_all]
            Dsup = np.maximum(
                Vvn[:, None] - 2.0 * (Vv @ S.T) + Sn[None, :], 0.0)
            Dsup[:, empty_g] = np.inf
            dsup = np.sqrt(Dsup)
            # lower bound on ANY member's distance, deflated by a
            # generous numeric slack (1e-9 relative ≪ the 1e-6 band,
            # so deflation only ever RETAINS extra groups)
            lb = np.maximum(
                dsup - radius_a[None, :] - 1e-9 * (1.0 + dsup), 0.0)
            lbsq = lb * lb
            g0 = np.argmin(Dsup, axis=1)
            best = np.full(len(rows_all), np.inf)
            # Phase A: exact BLAS min.  Seed with the nearest super's
            # members, then scan only groups whose bound can still
            # beat the current best (+ band margin so no band
            # candidate's group is ever pruned).
            for g in range(len(S)):
                mg = members_a[g]
                if not len(mg):
                    continue
                margin = _ASSIGN_EPS * (1.0 + np.abs(best))
                need = (g0 == g) | (lbsq[:, g] <= best + margin)
                rr = np.nonzero(need)[0]
                if not len(rr):
                    continue
                Dg = Vv[rr] @ C[mg].T
                Dg *= -2.0
                Dg += Cn[mg][None, :]
                Dg += Vvn[rr][:, None]
                best[rr] = np.minimum(best[rr], Dg.min(axis=1))
            # Phase B (vectorized): count band candidates per row
            # group-by-group; the common case — exactly one — is
            # decided by BLAS, exact-fold re-decision only for the
            # rare band-tie rows (same shared rule as the flat path;
            # zero candidates keep the min_cid fallback)
            thr = best + _ASSIGN_EPS * (1.0 + np.abs(best))
            Mband = lbsq <= thr[:, None]
            cand_count = np.zeros(len(rows_all), dtype=np.int64)
            single_pick = np.full(len(rows_all), -1, dtype=np.int64)
            for g in range(len(S)):
                mg = members_a[g]
                if not len(mg):
                    continue
                rr = np.nonzero(Mband[:, g])[0]
                if not len(rr):
                    continue
                Dg = Vv[rr] @ C[mg].T
                Dg *= -2.0
                Dg += Cn[mg][None, :]
                Dg += Vvn[rr][:, None]
                inb = Dg <= thr[rr, None]
                counts_g = inb.sum(axis=1)
                first = mg[np.argmax(inb, axis=1)]
                fresh = (counts_g > 0) & (cand_count[rr] == 0)
                single_pick[rr[fresh]] = first[fresh]
                cand_count[rr] += counts_g
            ones = cand_count == 1
            out[rows_all[ones]] = cid[single_pick[ones]]
            for r in np.nonzero(cand_count > 1)[0]:
                cand: list[int] = []
                for g in np.nonzero(Mband[r])[0]:
                    mg = members_a[g]
                    if not len(mg):
                        continue
                    Dg = (Vvn[r] - 2.0 * (Vv[r] @ C[mg].T) + Cn[mg])
                    cand.extend(mg[Dg <= thr[r]].tolist())
                out[rows_all[r]] = exact_best(rows_all[r], cand)
        return pd.Series(out.astype("int32"))

    assign = F.pandas_udf(assign_series, "int")
    return df.withColumn(out_col, assign(F.col(vec_col)))


def kmeans_fit(df: DataFrame, k: int, *, vec_col: str = "embedding",
               id_col: str = "vec_id", n_iter: int = 5,
               ) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over an embedding column — the semantic-
    clustering primitive (topic bucketing for corpus mixing, true IVF
    list training) — trained driver-side by :func:`_lloyd` on a
    bounded sample, the same contract as the IVF trainer.
    Deterministic: the sample is the ``max(64·k, 2048)`` non-NULL rows
    with the smallest ``id_col`` and the seeds are its first k rows
    (reproducible across runs and engines — no RNG); assignment ties
    break on centroid id, and an emptied cluster is reseeded to the
    point farthest from its centroid (so repeated seed vectors cannot
    leave clusters empty for good).

    Cost: ONE job — the ordered, limited collect (a top-N per
    partition, no shuffle) — then ``n_iter`` numpy iterations over at
    most ``max(64·k, 2048)`` × dim doubles.  Up to that many rows the
    result is the full-data Lloyd.  Above it, the centroids fit the
    lowest-id rows only: a corpus whose ids correlate with its content
    must be shuffled or sampled before the fit (assign the whole
    corpus afterwards with :func:`kmeans_assign`).
    """
    x = _train_sample(df.where(F.col(vec_col).isNotNull())
                      .orderBy(id_col), vec_col, max(64 * k, 2048))
    if not len(x):
        raise ValueError(f"kmeans_fit: {vec_col} has no non-NULL vector")
    cents, _ = _lloyd(x, x[:k], n_iter, spherical=False)
    return [(i, [float(v) for v in c]) for i, c in enumerate(cents)]


def rrf_fuse(rankings: list[tuple[DataFrame, str]], *, id_col: str,
             rrf_k: int = 60, query_col: str | None = None,
             topn: int | None = None) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009 —
    the published hybrid-retrieval combiner): fuse N candidate
    rankings (e.g. BM25 lexical + embedding cosine) into one list by
    ``sum over lists of 1/(rrf_k + rank)``.  Scores from different
    systems are never compared directly — only ranks — which is the
    whole point of RRF: no per-system score calibration.

    ``rankings``: (DataFrame, score_col) pairs; rank within each list
    is dense row_number by (score desc, id) — fully deterministic.
    Items missing from a list simply contribute nothing (the
    published convention).  Output: (id_col, rrf_score, n_lists).

    Plan shape: each input gets one window (per ``query_col`` when
    given), the union aggregates on id.  SCALE CONTRACT: inputs are
    CANDIDATE LISTS (top-k output of a retriever), not corpora — with
    no ``query_col`` the rank window is a single partition, which is
    fine for k×N candidate rows and wrong for a billion-row input;
    pass ``query_col`` for per-query fusion at scale.
    """
    if len(rankings) < 2:
        raise ValueError("rrf_fuse needs >= 2 rankings")
    parts = []
    keys = ([query_col] if query_col else []) + [id_col]
    for df, score_col in rankings:
        w = (Window.partitionBy(query_col) if query_col
             else Window.partitionBy())
        w = w.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        parts.append(df.select(
            *keys,
            (1.0 / (F.lit(rrf_k) + F.row_number().over(w)))
            .alias("__contrib")))
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    out = (allp.groupBy(*keys)
           .agg(F.sum("__contrib").alias("rrf_score"),
                F.count(F.lit(1)).cast("bigint").alias("n_lists")))
    out = out.orderBy(F.col("rrf_score").desc(),
                      *[F.col(c).asc() for c in keys])
    return out.limit(topn) if topn is not None else out


_EPS = 1e-9  # BLAS-vs-sequential-fold disagreement band (see below)
#: target floats per cosine block in the dominance pass (~512 MB of
#: float64); closure-captured at plan build, so tests can shrink it
#: to force multi-block execution on small clusters
_DOM_BLOCK_FLOATS = 64_000_000


def semantic_dedup(df: DataFrame,
                   centroids: list[tuple[int, list[float]]], *,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   threshold: float = 0.9,
                   cluster_col: str = "cluster",
                   max_cluster_rows: int | None = None,
                   assign_method: str = "auto") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate PRUNING — cluster the embedding space, then inside
    each cluster drop every item whose cosine similarity to a
    LOWER-ID cluster member reaches ``threshold``.  The survivor set
    is exactly the published greedy keep-first rule (iterate ids
    ascending, keep an item iff no already-kept*/seen item dominates
    it — *a dominated item is itself dominated by a kept one only
    under transitivity, which SemDeDup deliberately approximates by
    "any earlier neighbor", so the drop test is against ALL earlier
    cluster members; no iteration needed).

    Plan shape — why this survives 100 TB where naive semantic dedup
    dies: the pairwise test runs ONLY within a cluster (ONE shuffle on
    the cluster key into a per-cluster Arrow BLAS pass, the same
    per-bucket shape ``embedding_dedup`` uses), so the quadratic term
    is bounded by the largest cluster, a dial the caller controls
    with k.  THE DIAL MUST SCALE WITH THE CORPUS (VERDICT r6): at a
    fixed k, mean cluster size — and the O(size²) dominance term —
    grows linearly with n; choose k = ⌈n / target_cluster_rows⌉ so
    cluster sizes (and per-cluster cost) stay constant and the total
    dominance work stays LINEAR in n (the declared x34 query uses
    target_cluster_rows = 250).  Assignment itself is
    :func:`kmeans_assign` — a narrow zero-shuffle map either way;
    ``assign_method`` forwards to it (``auto`` picks the flat
    Arrow/BLAS pass for small k, the pruned coarse pass for the large
    k the scaling rule produces — both bit-identical to the exact
    fold via the band re-decision).  ``max_cluster_rows`` is the
    same loud hot-bucket guard the LSH family uses: a degenerate
    cluster (k too small for the corpus) fails with instructions
    instead of burning an executor on n²/2 pair computations.  The
    guard fires BEFORE the executor allocates anything dangerous: the
    per-cluster pass computes the cosine matrix in row blocks of
    ≤ ~64M floats (512 MB), never the full n×n at once, so the
    binding constraint is the n×dim vector STACK — hence the default
    cap scales with the embedding width, ``100M floats // dim``
    (~800 MB float64; floor 10k rows — lowered from 100k in round 6 so
    wide embeddings keep the ~800 MB bound: the old floor let dim-4096
    clusters stack ~3.3 GB): 1.5M rows at dim 64, ~100k at dim 1024.
    BEHAVIOR NOTE: clusters between ``100M//dim`` and 100k rows at
    1000 < dim < 10000 that the old floor admitted now require an
    explicit ``max_cluster_rows`` — pass one to pin the cap.

    Determinism contract (the oracle's): the survivor set equals the
    one the exact double-sequential-fold cosine (``d += x·y`` and
    both squared norms, left to right) produces, bit for bit — BLAS decides
    only pairs farther than ``_EPS`` from the threshold, and every
    pair inside the band is re-decided with that exact fold (see the
    inline proof sketch below).  Returns the surviving rows of ``df``
    plus ``cluster_col``.

    Note: the cluster-assignment cache is released before returning
    (the dominated-id set is eagerly checkpointed so the result no
    longer depends on it) — repeated calls in one session do not
    accrete cached partitions; the returned plan re-evaluates the
    assignment pass once when consumed.  With
    ``sc.setCheckpointDir(...)`` set the checkpoint is RELIABLE
    (survives executor loss); otherwise it falls back to
    ``localCheckpoint``, whose executor-local blocks have no lineage
    fallback — fine in local mode, set a checkpoint dir on a real
    cluster with dynamic allocation or spot executors.
    """
    # persist: the assignment pass (a k x dim distance search per
    # row) feeds the size guard, the dominance pass, and the final
    # anti-join — without the persist it is re-evaluated three times
    if max_cluster_rows is None:
        # memory-derived default: ~100M floats of stacked cluster
        # (~800 MB float64).  The floor only backstops degenerate
        # dims — at 10k it stays BELOW the memory bound up to dim
        # 10_000, so wide embeddings keep the ~800 MB guarantee
        # (the old 100k floor let dim-4096 clusters stack ~3.3 GB)
        dim = len(centroids[0][1]) if centroids else 1
        max_cluster_rows = max(10_000, 100_000_000 // max(dim, 1))
    # spread first: the assignment pass (k x dim per row) is the
    # CPU-heavy pass, and single-file embedding fixtures scan with
    # row-group-bounded parallelism (guide: repartition after read)
    from bi_etl_and_integration_spark.operators.common import (
        cache_scope, cached, materialize)
    from bi_etl_and_integration_spark.operators.relational import (
        spread_for_compute)
    with cache_scope():
        assigned = cached(kmeans_assign(spread_for_compute(df, id_col),
                                        centroids, vec_col=vec_col,
                                        out_col=cluster_col,
                                        method=assign_method))
        sizes = assigned.groupBy(cluster_col).agg(
            F.count(F.lit(1)).alias("__n"))
        big = (sizes.where(F.col("__n") > max_cluster_rows)
               .limit(1).collect())
        if big:
            raise ValueError(
                f"semantic_dedup: cluster {big[0][0]} has {big[0][1]} "
                f"rows (cap {max_cluster_rows}); raise k (more "
                f"centroids) or max_cluster_rows — the within-cluster "
                f"join is O(n^2)")
        # Dominance phase: ONE Arrow pass per cluster (the same
        # per-bucket BLAS shape embedding_dedup uses) instead of a
        # self-join whose interpreted per-pair cosine folds dominated the
        # wall time (measured 2.3 s -> 0.6 s at sf0.1).  Bit-exactness is
        # PRESERVED, not approximated: BLAS cosines decide only pairs
        # farther than _EPS from the threshold; any pair inside the _EPS
        # band is re-decided with the exact sequential double fold (the
        # loop below performs the identical IEEE op sequence as the
        # sequential fold the oracle mirrors).  BLAS error
        # for unit-scale dims is ~1e-15 relative, 6 orders inside _EPS,
        # so blas-decided pairs provably agree with the exact fold and
        # the survivor set is the one the all-exact plan produces.
        id_t = assigned.schema[id_col].dataType.simpleString()
        tau = float(threshold)
        block_floats = _DOM_BLOCK_FLOATS  # closure-captured: test dial

        def dominated_fn(pdf):
            import math

            import numpy as np
            import pandas as pd
            n = len(pdf)
            if n < 2:
                return pd.DataFrame({"__dom": pd.Series([], dtype="int64")
                                     .astype(pdf[id_col].dtype)})
            pdf = pdf.sort_values(id_col, kind="mergesort")
            ids = pdf[id_col].to_numpy()
            v = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            nrm = np.sqrt(np.einsum("ij,ij->i", v, v))
            # Row-blocked: the full n×n cosine matrix is never allocated —
            # each block is (b × n) with b sized to ~64M floats (512 MB),
            # so memory is O(block × n), not O(n²); a 100k-row cluster
            # peaks at ~512 MB of matrix instead of 80 GB.
            block = max(256, block_floats // n)
            dominated = np.zeros(n, dtype=bool)
            for a in range(1, n, block):        # row 0 has no j < i
                b = min(a + block, n)
                # clamp the PRODUCT (not each norm): matches the exact
                # fold's max(sqrt(na)*sqrt(nb), 1e-12) denominator
                cos = (v[a:b] @ v.T) / np.maximum(
                    np.outer(nrm[a:b], nrm), 1e-12)
                # mask to j < i (global row index a+r)
                cols = np.arange(n)
                tri = cols[None, :] < (np.arange(a, b))[:, None]
                ge = (cos >= tau) & tri
                band = (np.abs(cos - tau) <= _EPS) & tri
                for r, j in zip(*np.nonzero(band)):
                    # exact sequential fold (double acc,
                    # left-to-right)
                    i = a + r
                    d = na = nb = 0.0
                    for x, y in zip(v[i], v[j]):
                        d += x * y
                        na += x * x
                        nb += y * y
                    # math.sqrt is IEEE correctly-rounded (as is the
                    # JVM's); pow(x, 0.5) carries no such guarantee
                    exact = d / max(math.sqrt(na) * math.sqrt(nb), 1e-12)
                    ge[r, j] = exact >= tau
                dominated[a:b] = ge.any(axis=1)
            dom = ids[dominated]
            return pd.DataFrame({"__dom": dom})

        dominated = (assigned.select(F.col(cluster_col),
                                     F.col(id_col),
                                     F.col(vec_col).alias("__v"))
                     .groupBy(cluster_col)
                     .applyInPandas(dominated_fn, f"__dom {id_t}")
                     .select(F.col("__dom").alias(id_col))
                     .distinct())
        # Eager materialization cuts the lineage back to `assigned` so
        # the cache can be RELEASED at scope exit instead of accreting
        # per call (the dominated-id set is the small output of the
        # dominance pass, never the corpus).  When the session has a
        # checkpoint dir, use a RELIABLE checkpoint: localCheckpoint
        # pins blocks executor-local with no lineage fallback, so on a
        # real cluster losing any executor (dynamic allocation, spot
        # nodes — the 100 TB regime) before the result is consumed
        # would fail the query.  Without a checkpoint dir (local dev)
        # fall back to localCheckpoint and accept that single-process
        # risk profile.
        dominated = materialize(dominated)
    # the size guard + dominance pass (the two extra consumers the
    # cache existed for) have run; the final anti-join re-evaluates
    # the assignment pass exactly once at consume time
    return assigned.join(dominated, id_col, "left_anti")
