"""Plan-shape tests: prove the optimizations the 100-TB design relies on
actually happen (SURVEY.md §4).

These assert on the physical plan, not on results — a correct answer
computed with a full scan, a missed broadcast, or an extra shuffle is a
bug at scale even though small-SF results match."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bi_etl_and_integration_spark import plans
from bi_etl_and_integration_spark.operators import (
    aggregate as agg_ops,
    relational as rel_ops,
)
from bi_etl_and_integration_spark.sources import Catalog

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def cat(spark):
    return Catalog(spark, SF, register_views=False)


def test_filter_pushdown_reaches_parquet_scan(cat):
    """'WHERE is your friend' (PRO/Глава 12:26-31): the predicate must
    land in the scan's PushedFilters, not in a post-scan Filter only."""
    df = (cat.lineitem
          .where(F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
          .select("l_orderkey"))
    pushed = " ".join(plans.pushed_filters(df))
    assert "l_shipdate" in pushed, plans.formatted_plan(df)


def test_column_pruning_reaches_parquet_scan(cat):
    """'SELECT * is bad' (PRO/Глава 12:22-24): a 2-column projection
    must read exactly those columns, never the full 16-column table."""
    df = rel_ops.project(cat.lineitem, "l_orderkey", "l_extendedprice")
    cols = plans.scan_columns(df)
    assert cols == {"l_orderkey", "l_extendedprice"}, \
        plans.formatted_plan(df)


def test_lookup_full_cache_is_broadcast(cat):
    """Lookup Full Cache (PRO/Глава 07:33-37): the reference table ships
    to every task; the big flow must NOT shuffle."""
    looked = rel_ops.lookup(
        cat.orders,
        cat.customer.select(F.col("c_custkey").alias("o_custkey"), "c_name"),
        ["o_custkey"], broadcast=True)
    assert plans.broadcast_join_count(looked) >= 1
    # broadcast join: no hash-exchange of the probe side
    assert plans.shuffle_count(looked) == 0, plans.formatted_plan(looked)


def test_cascade_lookup_broadcasts_every_dim(cat):
    part_dim = cat.part.select(F.col("p_partkey").alias("l_partkey"),
                               "p_partkey")
    supp_dim = cat.supplier.select(F.col("s_suppkey").alias("l_suppkey"),
                                   "s_suppkey")
    out = rel_ops.cascade_lookup(cat.lineitem, [
        (part_dim, ["l_partkey"], "p_partkey", "p_sk"),
        (supp_dim, ["l_suppkey"], "s_suppkey", "s_sk")])
    assert plans.broadcast_join_count(out) == 2
    assert plans.shuffle_count(out) == 0, plans.formatted_plan(out)


def test_hash_aggregate_is_partial_then_final(cat):
    """One shuffle for a keyed aggregation — partial (map-side) agg
    before the exchange, final after (SSIS 'fully blocking' improved)."""
    df = agg_ops.aggregate(cat.lineitem, ["l_returnflag"],
                           {"s": F.sum("l_quantity")})
    assert plans.shuffle_count(df) == 1, plans.formatted_plan(df)
    plan = plans.formatted_plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_pre_aggregate_then_join_shuffle_budget(cat):
    """Datamart CTE cascade: each detail aggregates once (1 shuffle
    each); the joins on pre-reduced keys must not add full-table
    shuffles of the base beyond the join itself."""
    mart = agg_ops.pre_aggregate_then_join(
        cat.customer.select("c_custkey"), "c_custkey",
        [(cat.orders, "o_custkey", {"n": F.count(F.lit(1))})])
    # budget: 1 shuffle for the detail agg; the join should broadcast
    # the shrunken aggregate (dimension-sized) rather than shuffle both
    assert plans.shuffle_count(mart) <= 2, plans.formatted_plan(mart)


def test_top_k_avoids_total_sort(cat):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject (per-partition
    top-k + driver merge), not a range-partitioned full sort."""
    df = rel_ops.top_k(cat.orders.select("o_orderkey", "o_totalprice"),
                       10, F.col("o_totalprice").desc())
    plan = plans.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plans.shuffle_count(df) == 0, plan


def test_narrow_transforms_fuse_into_one_codegen_span(cat):
    """Derived columns + filter + projection = one pipelined stage
    (the SSIS synchronous-transform execution-tree analog)."""
    df = (cat.orders
          .where(F.col("o_totalprice") > 100)
          .withColumn("with_tax", F.col("o_totalprice") * 1.1)
          .select("o_orderkey", "with_tax"))
    assert plans.shuffle_count(df) == 0
    assert plans.wholestage_codegen_count(df) == 1, \
        plans.formatted_plan(df)


def test_conditional_split_pushes_each_branch_predicate(cat):
    streams = rel_ops.conditional_split(
        cat.orders, {"big": F.col("o_totalprice") > 1000})
    pushed = " ".join(plans.pushed_filters(streams["big"]))
    assert "o_totalprice" in pushed


def test_embedding_multiprobe_is_single_shuffle(cat):
    """Multi-probe LSH must posexplode per-probe bucket ids into ONE
    (probe, bucket) shuffle — k probes as k sequential job waves would
    multiply stage barriers at corpus scale."""
    from bi_etl_and_integration_spark.operators import dedup as dd
    out = dd.embedding_dedup(
        cat.embeddings, "embedding", "vec_id",
        threshold=0.5, n_planes=4, n_probes=3)
    # one Exchange for the bucket groupBy, one for the pair dedup
    assert plans.shuffle_count(out) <= 2, plans.formatted_plan(out)


def test_minhash_multiprobe_single_aggregation_pass(cat):
    """k probe families must fuse into the single signature aggregation
    and band self-join — the plan may not grow a HashAggregate or
    Exchange per probe."""
    from bi_etl_and_integration_spark.operators import dedup as dd
    one = dd.minhash_lsh_dedup(cat.documents, "text", "doc_id",
                               num_hashes=16, bands=4)
    three = dd.minhash_lsh_dedup(cat.documents, "text", "doc_id",
                                 num_hashes=16, bands=4, n_probes=3)
    assert plans.shuffle_count(three) == plans.shuffle_count(one), \
        plans.formatted_plan(three)


def test_returned_items_showcase_shape(cat):
    """q45 (TPC-H Q10 shape) at dim scale: every dimension side
    broadcasts, the returnflag filter reaches the lineitem scan, and
    the LIMIT plans TakeOrderedAndProject instead of a total sort."""
    from bi_etl_and_integration_spark.queries import QUERIES
    df = QUERIES["q45_returned_items"](cat.spark, SF)
    plan = plans.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plans.broadcast_join_count(df) >= 1, plan
    pushed = " ".join(plans.pushed_filters(df))
    assert "l_returnflag" in pushed, plan


def test_bucketed_fact_join_no_exchange_no_sort(cat):
    """q43/q45 over the _bucketed_facts staging (VERDICT r9 item 2):
    the orders⋈lineitem join must be a co-located SortMergeJoin with
    ZERO shuffle Exchange and ZERO Sort below it — both facts are
    bucketed AND sorted on the join key, single file per bucket, so
    the one-time staging write paid the shuffle and the sort at rest.
    q43's groupBy (l_orderkey, o_orderdate) additionally reuses the
    bucket distribution, so q43's ONLY exchange is the customer
    broadcast; q45's single hash exchange carries per-custkey partial
    aggregates, never fact rows."""
    import re

    from bi_etl_and_integration_spark.queries import QUERIES
    spark = cat.spark
    # at sf0.001 AQE would broadcast the tiny orders side, hiding the
    # property under test; disabling auto-broadcast forces the join
    # strategy the big-SF plan uses (the explicit F.broadcast hints on
    # the dim sides are unaffected)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q43 = QUERIES["q43_shipping_topk"](spark, SF)
        simple = plans.simple_plan(q43)
        assert plans.shuffle_count(q43) == 0, simple
        # the SMJ is sort-free: the bucket scan reports its sortBy order
        assert "SortMergeJoin" in simple, simple
        assert not re.search(r"\bSort \[", simple), simple
        formatted = plans.formatted_plan(q43)
        assert formatted.count("Bucketed: true") == 2, formatted[:3000]
        # q45: same co-located join; its one hash exchange carries the
        # per-custkey partial aggregates (the rangepartitioning one is
        # the final ORDER BY of <= 20 rows)
        q45 = QUERIES["q45_returned_items"](spark, SF)
        s45 = plans.simple_plan(q45)
        assert s45.count("Exchange hashpartitioning") <= 1, s45
        assert "SortMergeJoin" in s45 and not re.search(
            r"\bSort \[[lo]_orderkey", s45), s45
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_custgrain_staging_no_exchange_below_agg_or_window(cat):
    """q14/q47 over the _custgrain_facts staging (VERDICT r10 items
    1-2): the per-customer window (q47) and BOTH detail aggregates
    (q14) run on tables bucketed on exactly their clustering key, so
    no fact rows ever cross an Exchange — q47's only exchange is the
    declared final ORDER BY (rangepartitioning of the tiny top-2
    output), and q14's exchanges are at most the post-agg join legs
    (already customer-sized), never the raw orders/events."""
    import re

    from bi_etl_and_integration_spark.queries import QUERIES
    spark = cat.spark
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q47 = QUERIES["q47_lateral_topk"](spark, SF)
        s47 = plans.simple_plan(q47)
        # the window itself is exchange-free: no hashpartitioning
        # exchange anywhere (the one rangepartitioning is the ORDER BY)
        assert "Exchange hashpartitioning" not in s47, s47
        assert s47.count("Exchange rangepartitioning") == 1, s47
        assert re.search(r"WindowGroupLimit", s47), s47

        q14 = QUERIES["q14_mart_cte_cascade"](spark, SF)
        s14 = plans.simple_plan(q14)
        # both aggregates read bucketed scans: no exchange BELOW a
        # HashAggregate (partial aggs sit directly on the file scans)
        f14 = plans.formatted_plan(q14)
        assert f14.count("Bucketed: true") == 3, f14[:3000]
        # no exchange carries raw fact rows: every hashpartitioning
        # exchange in the plan sits above an aggregate, not a scan
        for m in re.finditer(r"Exchange hashpartitioning", s14):
            below = s14[m.end():]
            nxt = below.split("\n", 2)
            assert "HashAggregate" in (nxt[1] if len(nxt) > 1 else ""), s14
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_simhash_self_join_reuses_cached_table(cat):
    """The banding self-join must not recompute the token-explode +
    vote aggregation per side: the simhash table is persisted, so the
    plan shows InMemoryTableScan instead of a second aggregation."""
    from bi_etl_and_integration_spark.operators import dedup as dd
    out = dd.simhash_dedup(cat.documents, "text", "doc_id")
    plan = plans.formatted_plan(out)
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan


def test_partition_pruning_static_and_dynamic(cat, spark, tmp_path):
    """Date-partitioned layout at rest: a literal dim predicate must
    fold into static PartitionFilters, and a non-foldable dim filter
    must inject a dynamicpruning subquery — so at 100 TB the fact scan
    reads only the partitions the dim side selects, never the table."""
    d = str(tmp_path)
    orders = cat.orders.withColumn("o_year", F.year("o_orderdate"))
    orders.write.partitionBy("o_year").parquet(d + "/orders_part")
    fact = spark.read.parquet(d + "/orders_part")

    static = fact.where(F.col("o_year") == 1995).select("o_orderkey")
    sp = plans.formatted_plan(static)
    s_filters = [ln for ln in sp.splitlines() if "PartitionFilters" in ln]
    assert s_filters and "1995" in s_filters[0], sp

    dim = spark.createDataFrame([(1995, "keep"), (1996, "drop")],
                                "y int, attr string")
    dim.write.parquet(d + "/dim")
    dim = spark.read.parquet(d + "/dim").where(F.col("attr") == "keep")
    j = (fact.join(dim, fact["o_year"] == dim["y"])
         .select("o_orderkey", "attr"))
    assert "dynamicpruning" in plans.formatted_plan(j).lower(), \
        plans.formatted_plan(j)


def test_flag_outliers_broadcasts_stats_not_rows(cat):
    """The stats side (a few rows per group) must broadcast; the wide
    input must NOT shuffle — a window over the group key would
    Exchange every row instead."""
    from bi_etl_and_integration_spark.operators import cleanse as cl_ops
    df = cl_ops.flag_outliers(cat.events, "value", ["event_type"],
                              method="zscore")
    assert plans.broadcast_join_count(df) >= 1, plans.formatted_plan(df)
    # the only Exchange allowed is the tiny stats aggregate's own
    assert plans.shuffle_count(df) <= 1, plans.formatted_plan(df)


def test_mask_and_kmeans_assign_are_zero_shuffle(cat):
    """Masking and centroid assignment are narrow maps (a codegen'd
    projection, an Arrow pass): no Exchange, no join."""
    from bi_etl_and_integration_spark.operators import cleanse as cl_ops
    from bi_etl_and_integration_spark.operators import (
        similarity as sim_ops)
    masked = cl_ops.mask_columns(
        cat.customer, {"c_name": "hash", "c_acctbal": "redact"})
    assert plans.shuffle_count(masked) == 0
    cents = [(0, [0.0] * 64), (1, [1.0] * 64)]
    assigned = sim_ops.kmeans_assign(cat.embeddings, cents)
    assert plans.shuffle_count(assigned) == 0, \
        plans.formatted_plan(assigned)
    assert plans.broadcast_join_count(assigned) == 0


def test_window_funnel_single_shuffle(cat):
    """Funnel = one Exchange on user_id (collect+fold); the step
    filter must reach the scan."""
    from bi_etl_and_integration_spark.operators import (
        windows as win_ops)
    df = win_ops.window_funnel(cat.events,
                               ["view", "click", "purchase"],
                               window="24 hours")
    assert plans.shuffle_count(df) == 1, plans.formatted_plan(df)
    assert any("event_type" in p for p in plans.pushed_filters(df)), \
        plans.formatted_plan(df)


def test_retention_and_with_totals_single_aggregate(cat):
    """q62/q64: one hash-aggregate plan each — retention's bool_or is
    algebraic (map-side combined) and WITH TOTALS rides rollup's
    extra combine level, never a second scan."""
    from bi_etl_and_integration_spark.operators.windows import (
        transitions)
    ret = agg_ops.retention(
        cat.events, [("v", F.col("event_type") == "view"),
                     ("c", F.col("event_type") == "click")])
    assert plans.shuffle_count(ret) == 1, plans.formatted_plan(ret)
    tot = agg_ops.with_totals(
        cat.lineitem, ["l_returnflag"],
        {"n": F.count(F.lit(1))})
    # rollup = ONE Expand + ONE exchange; a naive detail+total UNION
    # would show two scans/aggregations (formatted output repeats each
    # node in its detail section, so count exchanges, not scans)
    assert plans.shuffle_count(tot) == 1, plans.formatted_plan(tot)
    # transitions: lead window (1 exchange) + pair agg (1) = 2 before
    # any presentation sort
    tr = transitions(cat.events, tiebreak=["event_id"])
    assert plans.shuffle_count(tr) <= 2, plans.formatted_plan(tr)


def test_semantic_dedup_assignment_is_zero_shuffle(cat):
    """x34's cluster assignment must stay a narrow Arrow map — the
    shuffles belong to the within-cluster join only."""
    from bi_etl_and_integration_spark.operators.similarity import (
        kmeans_assign)
    cents = [(i, [float(i)] * 4) for i in range(4)]
    df = cat.embeddings.select(
        "vec_id", F.slice("embedding", 1, 4).alias("embedding"))
    out = kmeans_assign(df, cents)
    assert plans.shuffle_count(out) == 0, plans.formatted_plan(out)


def test_dedup_canonicalize_broadcasts_small_components(spark, cat):
    """A small pair set takes connected_components' driver-local path,
    whose labels come back broadcast-hinted: fanning them back onto
    the corpus must plan as a broadcast, not a corpus shuffle."""
    from bi_etl_and_integration_spark.operators.dedup import (
        dedup_canonicalize)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 8)],
                                  "id_a long, id_b long")
    out = dedup_canonicalize(cat.documents, pairs)
    assert plans.broadcast_join_count(out) >= 1, plans.formatted_plan(out)


def test_no_expand_carries_sketch_state(cat):
    """r4 VERDICT item 2: a multi-COUNT(DISTINCT) aggregate plans as
    Catalyst's Expand rewrite (input ×k), and dragging HLL sketch
    registers (~16 KB each at rsd 0.02) through Expand partials is
    the plan class that made q10b a 106 s scale-killer.  The sketch
    queries (q26b band check, q10b profile) must therefore plan with
    NO Expand node at all — each distinct/sketch runs as its own
    two-phase aggregate."""
    from bi_etl_and_integration_spark.queries import QUERIES
    for name in ("q26b_approx_distinct", "q10b_profile"):
        df = QUERIES[name](cat.spark, SF)
        plan = plans.formatted_plan(df)
        assert "Expand" not in plan, f"{name} plans an Expand:\n{plan}"


def test_exact_jaccard_join_never_all_pairs(cat):
    """The prefix-filtered exact join's completeness must come from the
    shingle-key equi-join, never a cartesian/nested-loop stage — at
    100 TB an all-pairs fallback is the difference between a join and
    a non-terminating query."""
    from bi_etl_and_integration_spark.operators.dedup import (
        exact_jaccard_join)
    for other in (None, cat.documents.limit(10)):
        df = exact_jaccard_join(cat.documents, "text", "doc_id",
                                threshold=0.5, other=other)
        plan = plans.formatted_plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_search_prunes_partitions(cat, spark, tmp_path):
    """The persisted-IVF probe's centroid_id IN (...) literal must
    fold into static PartitionFilters on the vectors scan — the scan
    reads the probed lists' files only (the x44 scale contract)."""
    from bi_etl_and_integration_spark.operators import similarity as sim
    idx = str(tmp_path / "ivf")
    sim.ivf_index_write(cat.embeddings, idx, nlist=4)
    queries = (cat.embeddings.where("vec_id < 2")
               .selectExpr("vec_id AS query_id", "embedding"))
    plan = sim.ivf_search(spark, idx, queries, k=3, n_probe=2) \
        ._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("centroid_id" in ln for ln in pf), plan[:2000]


def test_ivfadc_scan_prunes_partitions_and_columns(cat, spark, tmp_path):
    """The IVFADC candidate scan must keep the centroid_id partition
    filter AND read only (vec_id, pq_code) from the files — the float
    embedding column must not appear in the ADC scan's ReadSchema
    (the x44c scale contract: n_probe/nlist of the files, m bytes of
    the row).  The rerank fetch (a separate job since the shortlist
    ids are collected) must carry BOTH the partition filter and a
    pushed literal id predicate — row-group skipping inside the
    probed partitions (VERDICT r9 item 5)."""
    from bi_etl_and_integration_spark.operators import similarity as sim
    idx = str(tmp_path / "ivfadc")
    sim.ivf_index_write(cat.embeddings, idx, nlist=4, pq_m=4, pq_nbits=4)
    queries = (cat.embeddings.where("vec_id < 2")
               .selectExpr("vec_id AS query_id", "embedding"))
    # the ADC leg runs (collects) inside ivf_search: read its plan
    # from the SQL status store, which records every execution's
    # physical plan with or without the UI
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        # the store is fed by the async listener bus: drain it first
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        runs = store.executionsList()
        return [runs.apply(i) for i in range(runs.size())]

    before = max((e.executionId() for e in executions()), default=-1)
    rerank_plan = sim.ivf_search(spark, idx, queries, k=3, n_probe=2,
                                 shortlist=10) \
        ._jdf.queryExecution().executedPlan().toString()
    adc_plans = [e.physicalPlanDescription() for e in executions()
                 if e.executionId() > before
                 and "pq_code" in e.physicalPlanDescription()]
    assert len(adc_plans) == 1, len(adc_plans)
    adc_plan = adc_plans[0]
    pf = [ln for ln in adc_plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("centroid_id" in ln for ln in pf), adc_plan[:2000]
    # the ADC candidate scan's ReadSchema must exclude the embedding
    # column — it reads (vec_id, pq_code) plus the partition column
    reads = [ln for ln in adc_plan.splitlines() if "ReadSchema" in ln]
    adc_reads = [ln for ln in reads if "pq_code" in ln]
    assert adc_reads and all("embedding" not in ln for ln in adc_reads), \
        "\n".join(reads)
    # rerank fetch: partition filter AND pushed shortlist-id predicate
    pf2 = [ln for ln in rerank_plan.splitlines()
           if "PartitionFilters" in ln]
    assert pf2 and any("centroid_id" in ln for ln in pf2), \
        rerank_plan[:2000]
    pushed = [ln for ln in rerank_plan.splitlines()
              if "PushedFilters" in ln]
    assert pushed and any("In(vec_id" in ln for ln in pushed), \
        "\n".join(pushed) or rerank_plan[:2000]


def test_shingle_explode_not_duplicated_below_exchange(cat):
    """InferFiltersFromGenerate exclusion (r11, session.py): the
    explode over a computed shingle array must NOT infer a
    `size(shingles)>0` pre-filter — that filter embeds the ENTIRE
    shingle expression and gets pushed below the spread exchange into
    the (row-group-bounded, often serial) scan stage, computing every
    shingle twice.  With the rule excluded the plan has exactly ONE
    occurrence of the shingle expression (in the Project feeding the
    Generate) and no Filter mentioning it below the Exchange."""
    from bi_etl_and_integration_spark.operators import dedup as dd
    # min_bytes=0 forces the spread on the tiny test fixture (the r12
    # size floor would otherwise no-op it and leave nothing to assert)
    base = (rel_ops.spread_for_compute(cat.documents, "doc_id",
                                       min_bytes=0)
            .select(F.col("doc_id").alias("id"),
                    dd.hashed_shingles(F.col("text"), 3).alias("__hs")))
    plan = (base.select("id", F.explode("__hs").alias("__h"))
            ._jdf.queryExecution().executedPlan().toString())
    # arrays_zip is the shingle expression's signature sub-term; it
    # must appear exactly once (the Project), never in a Filter
    assert plan.count("arrays_zip") == 1, plan[:3000]
    filters = [ln for ln in plan.splitlines() if "Filter" in ln]
    assert not any("arrays_zip" in ln for ln in filters), "\n".join(filters)


def test_spread_for_compute_is_scale_adaptive(cat, spark):
    """The spread fires for single-file few-row-group sources above
    the size floor (the compute would otherwise serialize), and is a
    NO-OP (a) below the size floor, where the exchange costs more
    than the serial pass it parallelizes (VERDICT r11 item 3), (b)
    once the source offers >= core-count files (production-shaped
    input), and (c) for row-splittable/in-memory frames that already
    carry >= core-count partitions (ADVICE r11)."""
    p = spark.sparkContext.defaultParallelism
    # (a) tiny single-file source: the 4 MB floor makes it a no-op
    assert rel_ops.spread_for_compute(cat.documents, "doc_id") \
        is cat.documents
    # forcing the floor off (big-source shape) fires the spread
    spread = rel_ops.spread_for_compute(cat.documents, "doc_id",
                                        min_bytes=0)
    assert spread.rdd.getNumPartitions() == p  # repartitioned
    assert "repartition" in spread._jdf.queryExecution().logical() \
        .toString().lower()
    # (b) many-file source: write the same rows out as >= p files
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        cat.documents.repartition(p).write.mode("overwrite").parquet(d)
        many = spark.read.parquet(d)
        assert rel_ops.spread_for_compute(many, "doc_id",
                                          min_bytes=0) is many
    # (c) in-memory frame already >= p partitions: no-op even with
    # the floor forced off (row-group count unknowable -> splits rule)
    mem = cat.documents.limit(50).collect()
    memdf = spark.createDataFrame(mem, cat.documents.schema) \
        .repartition(p)
    assert rel_ops.spread_for_compute(memdf, "doc_id",
                                      min_bytes=0) is memdf


def test_spread_for_compute_unreadable_parquet_footer_spreads(
        cat, spark, monkeypatch, tmp_path):
    """A ``.parquet`` source whose footer cannot be read (remote FS)
    keeps the conservative spread even when its split count clears the
    core count — splits beyond the row-group count are empty — while a
    non-parquet source with enough splits is row-splittable and stays
    a no-op."""
    import pyarrow.parquet as pq
    p = spark.sparkContext.defaultParallelism
    [path] = cat.documents.inputFiles()
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        split = spark.read.parquet(path)
        assert split.rdd.getNumPartitions() >= p
        cat.documents.coalesce(1).write.json(str(tmp_path / "json"))
        js = spark.read.schema(cat.documents.schema).json(
            str(tmp_path / "json"))
        assert js.rdd.getNumPartitions() >= p

        def unreadable(*_a, **_k):
            raise OSError("footer unreadable")
        monkeypatch.setattr(pq, "ParquetFile", unreadable)
        spread = rel_ops.spread_for_compute(split, "doc_id", min_bytes=0)
        assert spread is not split
        assert spread.rdd.getNumPartitions() == p
        assert rel_ops.spread_for_compute(js, "doc_id",
                                          min_bytes=0) is js
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
