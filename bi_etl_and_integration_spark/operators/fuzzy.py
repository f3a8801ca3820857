"""Fuzzy matching / text-quality operators (SURVEY.md §2.8).

Reference parity:
  - Fuzzy Lookup (PRO/Глава 11:31-44): approximate join of dirty rows
    against a clean reference with a similarity threshold.  Implemented
    as a BLOCKED join (never a full cross product): candidate pairs come
    from a cheap equi-join on a blocking key, then Levenshtein-based
    similarity scores filter + rank.  At 100 TB the blocking join is the
    only shuffle; block keys (prefix / soundex / length band) bound the
    candidate set per row.
  - Fuzzy Grouping (PRO/Глава 11:46-55): duplicate clusters WITHIN one
    dataset; emits ``_key_in`` / ``_key_out`` (canonical row) / ``_score``
    exactly like the SSIS component.  Connected components over the
    similarity edge set: driver-local union-find for a small graph,
    alternating large/small-star rounds otherwise.
  - Term Extraction / Term Lookup (PRO/Глава 05:91-92): tokenize +
    stopword filter + frequency; lookup = join on term.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.common import (
    cache_scope, cached, materialize as _materialize)
from bi_etl_and_integration_spark.operators.windows import limit_by


def similarity(a: Column, b: Column) -> Column:
    """Normalized token-free similarity in [0,1]:
    1 - levenshtein/greatest(len) — the SSIS fuzzy score analog."""
    return (1.0 - F.levenshtein(a, b) /
            F.greatest(F.length(a), F.length(b), F.lit(1))).cast("double")


def fuzzy_lookup(df: DataFrame, ref: DataFrame, col: str, ref_col: str, *,
                 block: Column | None = None, ref_block: Column | None = None,
                 min_similarity: float = 0.6, keep_best: bool = True,
                 score_col: str = "_similarity") -> DataFrame:
    """Approximate join ``df[col] ≈ ref[ref_col]``.

    ``block``/``ref_block`` default to the first character — replace
    with soundex/prefix expressions per use case.  The equi-join on the
    block key keeps the pair generation linear-ish; a cross join is
    never planned.  ``keep_best`` keeps one row per INPUT row (a row
    id, not the row's values, is the key: duplicate input rows each get
    their match, and map columns need no ordering).
    """
    block = block if block is not None else F.substring(F.col(col), 1, 1)
    ref_block = (ref_block if ref_block is not None
                 else F.substring(F.col(ref_col), 1, 1))
    d = df.withColumns({"__blk": block,
                        "__row": F.monotonically_increasing_id()})
    r = ref.withColumn("__blk", ref_block)
    if col == ref_col:
        r = r.withColumnRenamed(ref_col, f"{ref_col}__ref")
        ref_col = f"{ref_col}__ref"
    cand = d.join(r, "__blk").drop("__blk")
    scored = cand.withColumn(score_col, similarity(F.col(col), F.col(ref_col)))
    matched = scored.where(F.col(score_col) >= min_similarity)
    if keep_best:
        matched = limit_by(matched, ["__row"],
                           [F.col(score_col).desc(), F.col(ref_col)], 1)
    return matched.drop("__row")


#: edge count at or below which connected components run DRIVER-LOCAL:
#: a bounded collect + union-find instead of 10–30 Spark job waves.
#: The reference's own lesson is that small reference data belongs in
#: RAM (PRO/Глава 07:33-37) — on a 64-node/172-edge value domain the
#: distributed rounds are pure scheduling overhead (measured ~3.4 s of
#: sequential job waves at ANY SF, since the domain doesn't grow with
#: the data).  100k edges collect to a few MB — the same driver-side
#: bound the IVF/PQ trainers and the BPE vocab path use.
_SMALL_GRAPH_EDGES = 100_000

#: large/small-star round budget: O(log² n) rounds converge far below
#: it for any graph that fits a cluster; an unconverged loop raises
_STAR_MAX_ROUNDS = 25


def _local_components(edge_rows) -> dict:
    """Union-find (path compression) over a driver-collected edge
    list; returns ``{node: component}`` where ``component`` is the
    minimum node id of the component — the exact contract of the
    distributed path (Python's ``<`` on homogeneous int/str ids
    orders identically to Spark's: int order is int order, and str
    comparison by code point equals UTF-8 binary order).  NULL and
    self-loop edges are ignored, duplicate edges are harmless."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edge_rows:
        if u is None or v is None or u == v:
            continue
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    return {n: comp_min[find(n)] for n in parent}


def _local_labels_df(edges: DataFrame, probe_rows) -> DataFrame:
    """Build the ``(id, component)`` DataFrame for a driver-collected
    edge list.  Both output columns take the COMMON/PROMOTED type of
    the two edge columns (the schema of ``greatest(src, dst)``) — the
    distributed path promotes the same way via its greatest/least
    canonical orientation, so mixed-width edges (int src, bigint dst)
    yield the same (id, component) schema on either path, and
    collected dst values wider than src's type still fit
    (ADVICE r8)."""
    from pyspark.sql.types import StructField, StructType
    comp = _local_components(probe_rows)
    c0, c1 = edges.columns[:2]
    t = edges.select(F.greatest(F.col(c0), F.col(c1))).schema[0].dataType
    schema = StructType([StructField("id", t, True),
                         StructField("component", t, True)])
    return edges.sparkSession.createDataFrame(
        sorted(comp.items()), schema)


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst") -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm).  Converges in O(log² n) rounds versus
    O(component diameter) for naive label propagation, which is the
    difference between 4 and 40 shuffle rounds on a 100 TB web-scale
    dedup graph with long similarity chains.

    Input: an edge list (any orientation, self-loops ignored).
    Output: ``(id, component)`` for every node that appears in an edge,
    where ``component`` is the minimum node id of its component.

    SMALL-GRAPH FAST PATH: when a bounded probe shows the edge list has
    at most ``_SMALL_GRAPH_EDGES`` rows, the whole graph collects to
    the driver and union-find labels it in one pass — zero job waves
    instead of O(log² n) rounds of two shuffles each (the probe is a
    ``limit(_SMALL_GRAPH_EDGES + 1)`` scan, so the decision itself
    never reads more than that many rows even on a 100 TB edge set).
    The labels come back broadcast-hinted, so the caller's join
    against them stays a broadcast.

    Each distributed round is two shuffles (groupBy min + join) per
    star step, all JVM-side; no driver-side data beyond the
    convergence flag.  A loop still changing after
    ``_STAR_MAX_ROUNDS`` rounds raises instead of returning partial
    labels.
    """
    e0 = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
          .where(F.col("u") != F.col("v")))
    probe = e0.limit(_SMALL_GRAPH_EDGES + 1).collect()
    if len(probe) <= _SMALL_GRAPH_EDGES:
        return F.broadcast(_local_labels_df(e0, probe))
    # canonical orientation u > v; the edge set is kept distinct so the
    # convergence check compares sets, not multisets
    e = (e0.select(F.greatest("u", "v").alias("u"),
                   F.least("u", "v").alias("v")).distinct())

    e = _materialize(e)

    def _large_star(ed: DataFrame) -> DataFrame:
        # symmetric neighborhoods; m(u) = min(Γ(u) ∪ {u});
        # emit (v, m) for strictly larger neighbors v > u
        sym = ed.unionByName(ed.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        mins = (sym.groupBy("u")
                .agg(F.least(F.min("v"), F.col("u")).alias("m")))
        return (sym.join(mins, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .where(F.col("u") != F.col("v")).distinct())

    def _small_star(ed: DataFrame) -> DataFrame:
        # edges arrive oriented u > v; m(u) = min over smaller nbrs ∪ u;
        # emit (v, m) for v ∈ N(u) ∪ {u}, v ≠ m
        mins = ed.groupBy("u").agg(F.min("v").alias("m"))
        nbrs = ed.unionByName(ed.select(F.col("u"),
                                        F.col("u").alias("v")).distinct())
        return (nbrs.join(mins, "u")
                .select(F.greatest("v", "m").alias("u"),
                        F.least("v", "m").alias("v"))
                .where(F.col("u") != F.col("v")).distinct())

    for _ in range(_STAR_MAX_ROUNDS):
        nxt = _materialize(_small_star(_large_star(e)))
        changed = nxt.exceptAll(e).limit(1).count()
        e = nxt
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {_STAR_MAX_ROUNDS}"
            " large/small-star rounds")
    # at the fixpoint every edge points child -> component root (min id)
    roots = e.select(F.col("v").alias("id")).distinct() \
        .withColumn("component", F.col("id"))
    comp = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    out = comp.unionByName(roots).groupBy("id") \
        .agg(F.min("component").alias("component"))
    return out


def fuzzy_pairs(df: DataFrame, key: str, col: str, *,
                blocks: Column | Sequence[Column] | None = None,
                min_similarity: float = 0.8) -> DataFrame:
    """Blocked similarity pair generation: all (id_a, id_b, sim) with
    ``similarity >= min_similarity`` among rows sharing ANY block key —
    the multi-pass blocking of the record-linkage literature
    (Christen 2012): each blocker is one equi-self-join, candidate
    sets union, and recall is the UNION of the blockers' recalls
    (e.g. a 4-char-prefix block catches pairs agreeing on the head of
    the value, a 4-char-suffix block pairs agreeing on the tail — for
    "modifier noun"-shaped domains the union is typically complete
    while either alone misses half).

    Scale shape: one shuffle per blocker on its block key plus a
    candidate-pair dedup — never a cross product; each candidate pair
    is scored ONCE (dedup before the similarity join).  This is the
    edge generator behind :func:`fuzzy_grouping`, exposed because the
    pair set itself is the certifiable artifact (driver query q24b
    hash-matches it against an all-pairs oracle restatement)."""
    if blocks is None:
        blocks = [F.substring(F.col(col), 1, 2)]
    elif isinstance(blocks, Column):
        blocks = [blocks]
    if not blocks:
        raise ValueError("blocks must contain at least one blocker")
    cand = None
    for blk in blocks:
        keyed = df.select(F.col(key).alias("id"), blk.alias("__blk"))
        a, b = keyed.alias("a"), keyed.alias("b")
        e = (a.join(b, (F.col("a.__blk") == F.col("b.__blk")) &
                    (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b")))
        cand = e if cand is None else cand.unionByName(e)
    vals = df.select(F.col(key).alias("id"), F.col(col).alias("val"))
    return (cand.dropDuplicates(["id_a", "id_b"])
            .join(vals.select(F.col("id").alias("id_a"),
                              F.col("val").alias("__va")), "id_a")
            .join(vals.select(F.col("id").alias("id_b"),
                              F.col("val").alias("__vb")), "id_b")
            .withColumn("sim", similarity(F.col("__va"), F.col("__vb")))
            .where(F.col("sim") >= min_similarity)
            .select("id_a", "id_b", "sim"))


def fuzzy_grouping(df: DataFrame, key: str, col: str, *,
                   block: Column | Sequence[Column] | None = None,
                   min_similarity: float = 0.8,
                   pairs: DataFrame | None = None) -> DataFrame:
    """SSIS Fuzzy Grouping: cluster near-duplicate rows.

    Output = input columns + ``_key_in`` (row key), ``_key_out``
    (canonical/minimal key of the cluster), ``_score`` (similarity to
    the canonical row's value; 1.0 for the canonical itself).

    Algorithm (scales to the LSH regime by swapping the blocker):
      1. blocked self-join -> similarity edges (undirected);
         ``block`` accepts a single Column or a SEQUENCE of Columns
         (multi-pass blocking — candidate pairs union across
         blockers, see :func:`fuzzy_pairs`)
      2. :func:`connected_components` over the edge set — driver-local
         union-find when the edge set has at most
         ``_SMALL_GRAPH_EDGES`` rows, alternating large/small-star
         otherwise; nodes without an edge are singletons
      3. canonical = min key per component

    ``pairs`` short-circuits step 1 with a precomputed
    :func:`fuzzy_pairs` result (columns id_a/id_b) — callers that also
    EMIT the pair set (q24b) avoid generating it twice.
    """
    nodes = df.select(F.col(key).alias("id"), F.col(col).alias("val"))
    internal_pairs = pairs is None
    if internal_pairs:
        pairs = fuzzy_pairs(df, key, col, blocks=block,
                            min_similarity=min_similarity)
    edges = pairs.select(F.col("id_a").alias("src"),
                         F.col("id_b").alias("dst"))
    # both CC paths return labels that no longer read the edges (a
    # driver-built frame, or the last checkpointed star round), so the
    # edge cache ends with this scope
    with cache_scope():
        if internal_pairs:
            # ADVICE r8: the small-graph probe executes the (expensive)
            # blocked pair-generation plan; cache FIRST so an
            # over-threshold probe's partitions are reused by the
            # distributed path instead of the whole LSH/blocked join
            # being recomputed from scratch (the cache is
            # partition-grain: the limit() probe only materializes the
            # partitions it touches, so the bounded-probe contract is
            # preserved).  Caller-given pairs stay uncached — the
            # caller owns their lifetime.
            edges = cached(edges)
        comp = connected_components(edges)
    labels = (nodes.select("id")
              .join(comp, "id", "left")
              .select("id", F.coalesce("component", F.col("id"))
                      .alias("label")))
    canon_val = (labels.join(nodes.select(F.col("id").alias("label"),
                                          F.col("val").alias("__canon_val")),
                             "label"))
    return (df.join(canon_val.withColumnRenamed("id", key), key)
            .withColumn("_key_in", F.col(key))
            .withColumn("_key_out", F.col("label"))
            .withColumn("_score", F.when(F.col("_key_in") == F.col("_key_out"),
                                         F.lit(1.0))
                        .otherwise(similarity(F.col(col),
                                              F.col("__canon_val"))))
            .drop("label", "__canon_val"))


STOPWORDS = (
    "a an and are as at be by for from has he in is it its of on that the "
    "to was were will with this those these they them then than or not no "
    "but if so such own same too very can just do does did done"
).split()


def tokenize(col: Column | str, *, lower: bool = True,
             pattern: str = r"[^\p{L}\p{N}]+") -> Column:
    """Split text into word tokens (empty tokens removed).

    Implementation note (r8, VERDICT r7 item 4): split DIRECTLY on the
    delimiter regex — one regex pass, no intermediate rewritten string
    (the prior regexp_replace → trim → space-split chain built a full
    copy of every document before splitting; dropping it measured
    -20% on the x08 sf10 wall, 1.51 s → 1.20 s).  Leading/trailing
    delimiters produce empty tokens that array_remove strips, so the
    token arrays are byte-identical to the old form (property-checked
    over the corpus + adversarial unicode/whitespace shapes).  The
    equivalent ``F.filter(split, lambda)`` form has measured both ways:
    x08 at sf10 favoured ``array_remove``, while in x12b
    (``text.token_count``, sf0.1, 5 alternating pairs, same plan) the
    ``filter`` form ran 1.70 s against 4.17 s for ``array_remove``.
    Neither result was profiled, so neither form is the rule."""
    c = F.col(col) if isinstance(col, str) else col
    if lower:
        c = F.lower(c)
    return F.array_remove(F.split(c, pattern), "")


def term_extraction(df: DataFrame, text_col: str, *,
                    min_len: int = 3, top_n: int | None = None,
                    stopwords: Sequence[str] = STOPWORDS) -> DataFrame:
    """Term Extraction: token frequency over a corpus with stopword and
    length filters.  Explode happens after the per-document tokenization
    (JVM-side split); the only shuffle is the final count."""
    toks = df.select(F.explode(tokenize(text_col)).alias("term"))
    sw = F.array(*[F.lit(s) for s in stopwords])
    filtered = toks.where((F.length("term") >= min_len) &
                          ~F.array_contains(sw, F.col("term")))
    counts = filtered.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    if top_n:
        counts = counts.orderBy(F.col("n").desc(), "term").limit(top_n)
    return counts


def term_lookup(df: DataFrame, text_col: str, terms: DataFrame,
                term_col: str = "term",
                keys: Sequence[str] | None = None) -> DataFrame:
    """Term Lookup: count occurrences of reference terms per document.

    ``keys`` identifies a row (defaults to every non-text column); the
    aggregation groups on the keys only, so the wide text column never
    rides through the shuffle — at corpus scale that is the difference
    between shuffling ids and shuffling the corpus."""
    keys = list(keys if keys is not None
                else [c for c in df.columns if c != text_col])
    ex = df.select(*keys, F.explode(tokenize(text_col)).alias("__tok"))
    return (ex.join(F.broadcast(terms.select(F.col(term_col).alias("__tok"))),
                    "__tok")
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_term_hits")))
