"""SparkSession factory.

Reference parity: the SSIS pipeline engine exposes buffer-size /
parallelism knobs (PRO/Глава 15:41-42, Глава 22:30-48).  On Spark those
map to AQE + shuffle-partition + maxPartitionBytes settings, which we
centralize here so every entrypoint (tests, bench, driver) gets the
same tuned session.

Scale notes (100 TB design intent):
  - AQE on: runtime coalescing of shuffle partitions, skew-join
    splitting, dynamic broadcast decisions replace SSIS cache-mode
    tuning (PRO/Глава 07:35-39).
  - Timestamps pinned: session TZ = UTC and parquet NTZ inference on,
    matching the reference's naive-timestamp convention
    (SCRIPTS/Перелив данных из PostgreSQL в ClickHouse.md:181-183) and
    the DuckDB oracle.
  - Arrow enabled for the few Pandas-UDF operators (fuzzy/multimodal).
  - Two Spark 4 defaults every session paid for and never used are
    off: PySpark's per-call call-site capture (a py4j round trip or
    more per Column call, for error-message context only) and ICU
    case mapping for lower()/upper() (a one-time ICU table build and
    its retained heap).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _builder(app_name: str, master: str | None, shuffle_partitions: int,
             extra_conf: dict | None) -> SparkSession.Builder:
    b = (
        SparkSession.builder.appName(app_name)
        # -- heap: pyspark's local-mode default is 1 GB, absurd for a
        #    32-thread driver==executor JVM (GC churn; 64 MB broadcast
        #    threshold can't even build its table).  Must be set before
        #    the JVM spawns, so it lives here, env-overridable.  On a
        #    real cluster spark-submit owns this.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.maxResultSize", "4g")
        # -- adaptive execution: runtime re-plan replaces manual cache-mode
        #    / batch-size tuning documented by the reference
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- runtime SMJ -> shuffled-hash rewrite (r11): equal-sized
        #    candidate self-joins (LSH/simhash band tables, prefix
        #    tables) never satisfy the static planner's muchSmaller()
        #    SHJ condition, so it sorts BOTH sides; with this
        #    threshold AQE converts the SMJ to a shuffled-hash join
        #    when every post-shuffle build partition is small enough
        #    (measured at sf10, 8M-row band self-join: 8.9 -> 3.1 s,
        #    identical pair set) — and, unlike a static SHUFFLE_HASH
        #    hint, keeps AQE's broadcast upgrade for tiny inputs and
        #    degrades safely to SMJ when partitions outgrow the
        #    threshold at cluster scale
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "128m")
        # -- shuffle sizing: ~cores locally; a real cluster overrides via
        #    spark-defaults (AQE coalescing makes the initial number soft)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # -- scan sizing: 128 MB splits is the right granularity for the
        #    100 TB target (≈ 800k tasks over 1000 executors); the
        #    minPartitionNum floor keeps small single-file inputs (test
        #    SFs) from collapsing to one task and serializing the host
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        # -- open-cost floor: the default 4 MB floor beats
        #    minPartitionNum for small single-file tables — a 6 MB
        #    documents file split into TWO partitions, serializing
        #    regex-heavy narrow maps onto 2 of 32 cores (x27 at sf10:
        #    8.7 s -> 1.9 s with 1 MB).  At 100 TB this knob is inert
        #    (file sizes dwarf any open cost); it only exists to keep
        #    small-file CPU-bound maps parallel on the bench host.
        .config("spark.sql.files.openCostInBytes", "1048576")
        # -- timestamps: naive (NTZ) end-to-end, matching reference + oracle
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
        # -- parquet TIMESTAMP(NANOS) (events.ts fixture) has no native
        #    Spark type: read as long, Catalog converts to timestamp_ntz
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- Arrow for pandas_udf / applyInPandas operators
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- broadcast threshold: 32 MB — dimension tables (region, nation,
        #    customer, dictionaries) broadcast; measured at sf1: 64 MB
        #    let a 1.5M-row fact side through (3-6 s to build+ship the
        #    hash table vs 0.8-1.2 s for the shuffle join it replaced),
        #    10 MB pushed real dims into shuffles.  AQE still upgrades
        #    shuffle joins to broadcast at runtime when actual sizes allow
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # -- runtime row-group pruning: a selective join side injects a
        #    bloom filter into the probe side's scan — at 100 TB this
        #    skips parquet row groups for fact rows whose join key
        #    can't match (free with AQE; inert when selectivity is low).
        #    NOTE: runtimeFilter.semiJoinReduction measured-and-rejected
        #    — it sends planning into a pathological loop (>20x) here
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # -- bucketed scans report their sortBy order when (and only
        #    when) every bucket is a single file, letting a co-located
        #    SortMergeJoin skip BOTH sorts (the flag's guard makes it
        #    safe: multi-file buckets report no ordering and sort as
        #    usual).  With write_bucketed(single_file_buckets=True)
        #    this is the zero-exchange zero-sort join at rest —
        #    measured on q43 at sf10: 4.9 s (sorting SMJ) -> 1.7 s
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering",
                "true")
        # -- InferFiltersFromGenerate is a pessimization for every
        #    explode over a COMPUTED array (shingles, token n-grams):
        #    the inferred `size(e) > 0 AND isnotnull(e)` filter embeds
        #    the ENTIRE generator expression and is pushed below
        #    projects/exchanges into the scan stage, so the expensive
        #    array is computed twice — once of them serialized into
        #    the scan's (row-group-bounded) parallelism.  Generate
        #    with outer=false already drops empty/null inputs at
        #    execution, so excluding the rule is result-identical.
        #    Measured (r11, sf1, 25k-doc corpus): minhash banding
        #    8.7 s -> 1.0 s, same digest; plan-asserted in
        #    tests/test_plans.py (no shingle expression below the
        #    spread exchange).
        #    NOTE (ADVICE r11): this config is a COMMA-SEPARATED LIST —
        #    a future exclusion must append ",org.apache....RuleName"
        #    here, never set the key elsewhere (it would silently
        #    clobber this entry).  Scope note: the exclusion also
        #    disables inferred-filter pushdown for explodes over
        #    STORED array columns (result-identical; perf-only risk).
        #    No declared query explodes a stored array today — if one
        #    is added, scope the exclusion per-query via
        #    spark.conf.set inside that operator and add a plan test.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # -- cost-based optimizer: consumes ANALYZE TABLE statistics
        #    (sources.writers.analyze_table) for join reordering on
        #    multi-join marts; inert for tables without stats
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # -- quiet the UI in test/bench runs
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # -- PySpark call-site capture off: with it on, every Column
        #    method and pyspark.sql.functions call reads a session conf,
        #    walks the Python stack (importing IPython when installed,
        #    ~0.5 s on the first call) and sets + clears the JVM origin,
        #    all for the "== DataFrame ==" section of error messages.
        #    Measured building all 180 queries at sf0.1 (warm, 4 vCPU):
        #    99,747 -> 51,500 py4j round trips, 69.7 -> 47.6 s
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # -- ICU case mapping off: lower()/upper() take UTF8String's own
        #    path (ASCII fast path, JDK mapping) instead of
        #    CollationAwareUTF8String, whose static initializer builds
        #    an ICU title-case table once per JVM.  Measured on
        #    llm_curation: 95 of 232 executor samples of the cold pass
        #    inside com.ibm.icu; retained heap 74.96 -> 72.51 MB median
        #    over 10 perfbench pairs.  lower/upper agree on non-ASCII
        #    input under both settings (tests/test_session.py); only
        #    initcap differs, and no operator calls it
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    if master:
        b = b.master(master)
    # -- operator override hook: a cluster deploy tunes via
    #    spark-defaults.conf; local harnesses (bench experiments, the
    #    driver) can override any of the above via a JSON env var
    env_conf = os.environ.get("SPARK_GRAFT_CONF_JSON")
    if env_conf:
        import json
        for k, v in json.loads(env_conf).items():
            b = b.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b


def get_session(app_name: str = "bi-etl-spark",
                master: str | None = None,
                shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
                extra_conf: dict | None = None) -> SparkSession:
    """Create (or reuse) the tuned SparkSession.

    ``master`` defaults to whatever the environment provides (driver /
    spark-submit); falls back to ``local[N]`` with N = SPARK_GRAFT_CPUS
    when nothing is set.
    """
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    return _builder(app_name, master, shuffle_partitions, extra_conf).getOrCreate()


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
