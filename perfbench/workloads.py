"""The two workloads.  Each turns a seed into its inputs, runs one
pass over its op list the way a library caller would, and returns each
op's output digest: the row count and the xor of ``xxhash64`` over every
column, which is ``bench.py``'s ``consume()`` reduction.

``llm_curation`` builds its ops through ``__spark_entry__.queries()``.
``etl_load`` drives ``pipeline.Pipeline`` over ``sources``,
``operators.cleanse``, ``operators.cdc`` and ``operators.dimensional``,
then one ``streaming.runner`` stream.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from layers import Probe, jit_delta, tree_cpu
from spans import Tracer

# LLM-data ops: an n-gram LSH self-join shuffle (x04), Arrow/Python
# workers (x05), and construction-time jobs with operator-owned persists
# (x33).
LLM_CURATION = ["x04_dedup_ngram", "x05_dedup_embedding", "x33_hybrid_rrf"]

ETL_BATCHES = 2
STAGES = ["extract", "validate", "apply", "scd2", "publish"]
_MB = 1024 * 1024


def digest(df):
    """The reduced frame and its (rows, xor of xxhash64 over all
    columns): the engine evaluates every output column and one row
    crosses to Python."""
    from pyspark.sql import functions as F
    red = df.select(F.count(F.lit(1)).alias("n"),
                    F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))
                    .alias("d"))
    row = red.collect()[0]
    return red, (int(row["n"]), int(row["d"] or 0))


class PassStats:
    """Per-layer counts and times of one pass, filled while it runs."""

    def __init__(self, ops: list[str]):
        self.ops = ops
        self.values: dict[str, float] = defaultdict(float)
        self.digests: dict[str, tuple[int, int]] = {}
        self.errors: dict[str, str] = {}
        self.op_s: dict[str, float] = {}

    def add(self, key: str, value: float) -> None:
        self.values[key] += value


class _Base:
    name = ""

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.probe = Probe(spark)

    def _group(self, tracer: Tracer, stats: PassStats,
               *groups: str) -> list[dict]:
        """Job, stage and task counts of an op's job groups, plus their
        shuffle and spill bytes from the UI REST API, added up over the
        groups so every job the op runs counts once.  Returns each
        group's own counts."""
        with tracer.span("probe", "trace"):
            per = [self.probe.group(g) for g in groups]
            shuffle, spill = self.probe.stage_bytes(
                [s for g in per for s in g["stages"]])
        counts = {"jobs": sum(g["jobs"] for g in per),
                  "stages": sum(len(g["stages"]) for g in per),
                  "tasks": sum(g["tasks"] for g in per),
                  "shuffle_write_bytes": shuffle, "spill_bytes": spill}
        tracer.count(**counts)
        for k in ("jobs", "stages", "tasks"):
            stats.add(f"exec.{k}", counts[k])
        stats.add("exec.shuffle_write_mb", shuffle / _MB)
        stats.add("exec.spill_mb", spill / _MB)
        return per


class LlmCuration(_Base):
    """Cycles the LLM-data queries in seeded order; each op is built,
    then consumed, then its persisted intermediates are released the way
    ``bench.py`` isolates queries."""

    name = "llm_curation"

    def prepare(self, sf_dir: str) -> None:
        import __spark_entry__
        self.sf_dir = sf_dir
        every = __spark_entry__.queries()
        self.ops = list(LLM_CURATION)
        random.Random(self.seed).shuffle(self.ops)
        self.order = [(n, every[n]) for n in self.ops]

    def reset(self) -> None:
        pass

    def run_pass(self, tracer: Tracer, stats: PassStats, tag: str) -> None:
        from bi_etl_and_integration_spark.queries import remark_session_caches
        sc = self.spark.sparkContext
        traced = tracer.enabled
        for name, fn in self.order:
            start = time.monotonic()
            with tracer.span(name, "bench"):
                try:
                    if traced:
                        sc.setJobGroup(f"{tag}.{name}.build", name)
                        py0, c0 = time.process_time(), tree_cpu()
                    t0 = time.monotonic()
                    df = fn(self.spark, self.sf_dir)
                    t1 = time.monotonic()
                    if traced:
                        py1, c1 = time.process_time(), tree_cpu()
                        sc.setJobGroup(f"{tag}.{name}.exec", name)
                    red, stats.digests[name] = digest(df)
                    t2 = time.monotonic()
                    if traced:
                        plan = min(self.probe.plan_s(red), t2 - t1)
                        tracer.add("build", "queries", t0, t1)
                        tracer.add("plan", "catalyst", t1, t1 + plan)
                        tracer.add("exec", "exec", t1 + plan, t2)
                        stats.add("queries.build_s", t1 - t0)
                        stats.add("queries.build_cpu_s",
                                  py1 - py0 + c1["jvm"] - c0["jvm"]
                                  - jit_delta(c0["jit"], c1["jit"]))
                        stats.add("catalyst.plan_s", plan)
                        stats.add("exec.s", t2 - t1 - plan)
                        with tracer.span("probe", "trace"):
                            stats.add("storage.cached_mb",
                                      self.probe.cached_mb())
                        build, _ = self._group(tracer, stats,
                                               f"{tag}.{name}.build",
                                               f"{tag}.{name}.exec")
                        stats.add("queries.build_jobs", build["jobs"])
                except Exception as e:  # noqa: BLE001 — a failed op is counted
                    stats.errors[name] = f"{type(e).__name__}: {e}"[:300]
                self.spark.catalog.clearCache()
                remark_session_caches(self.spark)
            stats.op_s[name] = time.monotonic() - start

    def finish(self) -> bool:
        return True


# ------------------------------------------------------------------ etl

ORDER_KEYS = ["o_orderkey"]
CHANGE_DDL = ("o_orderkey BIGINT, op INT, offset BIGINT, o_custkey BIGINT, "
              "o_orderstatus STRING, o_totalprice DOUBLE, "
              "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING")


def make_batches(fixture_dir: str, out_dir: str, seed: int,
                 k: int = ETL_BATCHES) -> list[dict[str, str]]:
    """``k`` seeded CDC batches over the fixtures: inserts, updates and
    deletes of ``orders`` keys, and attribute changes of ``customer``
    rows.  Key sets are disjoint across batches; within a batch some keys
    change twice, so the apply must net-collapse them.  About 2% of the
    changed amounts are unparseable and go to quarantine."""
    rng = np.random.default_rng(seed)
    n_ord, n_cust = (pq.ParquetFile(os.path.join(fixture_dir, f"{t}.parquet"))
                     .metadata.num_rows for t in ("orders", "customer"))
    okeys = rng.permutation(n_ord)
    ckeys = rng.permutation(n_cust)
    n_upd, n_del, n_ins, n_twice = n_ord // 50, n_ord // 250, n_ord // 60, n_ord // 250
    c_upd, c_new, c_twice = n_cust // 20, n_cust // 75, n_cust // 75
    offset = 0
    paths = []
    for b in range(k):
        upd = okeys[b * (n_upd + n_del):b * (n_upd + n_del) + n_upd]
        dele = okeys[b * (n_upd + n_del) + n_upd:(b + 1) * (n_upd + n_del)]
        ins = n_ord + b * n_ins + np.arange(n_ins)
        twice = upd[:n_twice]
        keys = np.concatenate([ins, upd, dele, twice])
        ops = np.concatenate([np.full(len(ins), 2), np.full(len(upd), 4),
                              np.full(len(dele), 1),
                              rng.choice([1, 4], len(twice))])
        n = len(keys)
        price = np.round(rng.uniform(1000.0, 500_000.0, n), 2)
        price_s = np.array([f"{p:.2f}" for p in price], dtype=object)
        price_s[rng.random(n) < 0.02] = "n/a"
        base_day = np.datetime64("1995-01-01", "D") + rng.integers(0, 2404, n)
        ch = pa.table({
            "o_orderkey": keys.astype(np.int64),
            "op": pa.array(ops, pa.int32()),
            "offset": offset + np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": price_s,
            "o_orderdate": pa.array(base_day.astype("datetime64[us]")),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"])[rng.integers(0, 5, n)]})
        offset += n
        cu = ckeys[b * c_upd:(b + 1) * c_upd]
        cn = n_cust + b * c_new + np.arange(c_new)
        ckey = np.concatenate([cu, cn, cu[:c_twice]])
        m = len(ckey)
        bal = np.array([f"{v:.2f}" for v in
                        np.round(rng.uniform(-999.99, 9999.99, m), 2)],
                       dtype=object)
        bal[rng.random(m) < 0.02] = "n/a"
        eff = (np.datetime64("2024-02-01T00:00:00", "us")
               + np.timedelta64(b, "D")
               + rng.permutation(m).astype("timedelta64[s]"))
        cc = pa.table({
            "c_custkey": ckey.astype(np.int64),
            "c_acctbal": bal,
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"])[rng.integers(0, 5, m)],
            "eff_ts": pa.array(eff)})
        d = os.path.join(out_dir, f"batch_{b}")
        os.makedirs(d, exist_ok=True)
        p = {"orders": os.path.join(d, "orders_changes.parquet"),
             "customer": os.path.join(d, "customer_changes.parquet")}
        pq.write_table(ch, p["orders"])
        pq.write_table(cc, p["customer"])
        paths.append(p)
    return paths


def _retyped(df, col: str):
    """Put the typed cast back under the source column's name."""
    return df.withColumn(col, df["typed"]).drop("typed")


def _tree_size(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


class EtlLoad(_Base):
    """Applies the seeded CDC batches through a ``Pipeline``, one run
    per batch, then streams the validated batches into a second
    snapshot table.  Targets are reset before each pass."""

    name = "etl_load"

    def prepare(self, sf_dir: str) -> None:
        from pyspark.sql import functions as F

        from bi_etl_and_integration_spark.sources.readers import read_parquet
        from bi_etl_and_integration_spark.sources.snapshots import SnapshotTable
        from bi_etl_and_integration_spark.sources.writers import write_parquet
        self.sf_dir = sf_dir
        work = os.path.join(self.root, "etl")
        shutil.rmtree(work, ignore_errors=True)
        self.batches = make_batches(sf_dir, os.path.join(work, "input"),
                                    self.seed)
        self.ops = [f"batch_{b}" for b in range(len(self.batches))] + ["stream"]
        self.input_bytes = sum(os.path.getsize(p) for b in self.batches
                               for p in b.values())
        self.base = os.path.join(work, "base")
        self.targets = os.path.join(work, "targets")
        orders = read_parquet(self.spark, os.path.join(sf_dir, "orders.parquet"))
        SnapshotTable(self.spark, os.path.join(self.base, "orders")).write(orders)
        dim = read_parquet(self.spark, os.path.join(sf_dir, "customer.parquet"),
                           ["c_custkey", "c_acctbal", "c_mktsegment"])
        write_parquet(dim.select(
            "*", F.lit("1990-01-01 00:00:00").cast("timestamp_ntz")
            .alias("start_ts"),
            F.lit(None).cast("timestamp_ntz").alias("end_ts"),
            F.lit(True).alias("is_current")),
            os.path.join(self.base, "dim", "v0"))
        orders_b, orders_f = _tree_size(os.path.join(self.base, "orders"))
        dim_b, dim_f = _tree_size(os.path.join(self.base, "dim"))
        # reset copies the base orders table twice and the base dimension
        self.copied = (2 * orders_b + dim_b, 2 * orders_f + dim_f)

    def reset(self) -> None:
        shutil.rmtree(self.targets, ignore_errors=True)
        t = self.targets
        shutil.copytree(os.path.join(self.base, "orders"),
                        os.path.join(t, "orders"))
        shutil.copytree(os.path.join(self.base, "orders"),
                        os.path.join(t, "stream_orders"))
        shutil.copytree(os.path.join(self.base, "dim"), os.path.join(t, "dim"))

    def _pipeline(self, tracer: Tracer, batch: dict, b: int):
        from bi_etl_and_integration_spark.operators import cdc, cleanse
        from bi_etl_and_integration_spark.operators.dimensional import scd2_apply
        from bi_etl_and_integration_spark.pipeline import Pipeline
        from bi_etl_and_integration_spark.sources import readers, writers
        from bi_etl_and_integration_spark.sources.snapshots import SnapshotTable
        spark, t, call = self.spark, self.targets, tracer.call
        p = Pipeline("etl_load")

        def stage(name, depends_on=()):
            def deco(fn):
                def run(ctx):
                    with tracer.span(name, "pipeline"):
                        return fn(ctx)
                p.stage(name, depends_on)(run)
                return fn
            return deco

        @stage("extract")
        def extract(ctx):
            return {k: call("sources.readers", readers.read_parquet, spark, v)
                    for k, v in batch.items()}

        @stage("validate", ["extract"])
        def validate(ctx):
            raw = ctx["extract"]
            # the cast goes to a new column: with ``out`` left to default
            # to the source column, cast failures stay in the good stream
            o_ok, o_bad = call("operators.cleanse", cleanse.cast_with_quarantine,
                               raw["orders"], "o_totalprice", "double", "typed")
            c_ok, _ = call("operators.cleanse", cleanse.cast_with_quarantine,
                           raw["customer"], "c_acctbal", "double", "typed")
            return {"orders": _retyped(o_ok, "o_totalprice"), "bad": o_bad,
                    "customer": _retyped(c_ok, "c_acctbal")}

        @stage("apply", ["validate"])
        def apply(ctx):
            table = SnapshotTable(spark, os.path.join(t, "orders"))
            return call("operators.cdc", cdc.apply_changes_transactional,
                        table, ctx["validate"]["orders"], ORDER_KEYS, "offset")

        @stage("scd2", ["validate"])
        def scd2(ctx):
            prev = call("sources.readers", readers.read_parquet, spark,
                        os.path.join(t, "dim", f"v{b}"))
            return call("operators.dimensional", scd2_apply, prev,
                        ctx["validate"]["customer"], ["c_custkey"],
                        ["c_acctbal", "c_mktsegment"], "eff_ts")

        @stage("publish", ["apply", "scd2"])
        def publish(ctx):
            v = ctx["validate"]
            call("sources.writers", writers.write_parquet, ctx["scd2"],
                 os.path.join(t, "dim", f"v{b + 1}"))
            call("sources.writers", writers.write_parquet, v["bad"],
                 os.path.join(t, "quarantine"), mode="append")
            call("sources.writers", writers.write_parquet,
                 v["orders"].coalesce(1), os.path.join(t, "staged"),
                 mode="append")

        return p

    def _stream(self, tracer: Tracer):
        from bi_etl_and_integration_spark.streaming import runner
        t = self.targets
        src = (self.spark.readStream.schema(CHANGE_DDL)
               .option("maxFilesPerTrigger", 1)
               .parquet(os.path.join(t, "staged")))
        writer = tracer.call("streaming.runner",
                             runner.foreach_batch_upsert_snapshot, src,
                             table_path=os.path.join(t, "stream_orders"),
                             keys=ORDER_KEYS, offset_col="offset",
                             checkpoint_dir=os.path.join(t, "checkpoint"))
        with tracer.span("stream", "streaming.runner"):
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        return q

    def run_pass(self, tracer: Tracer, stats: PassStats, tag: str) -> None:
        sc = self.spark.sparkContext
        traced = tracer.enabled
        first_span = len(tracer.spans)
        ok = True
        for b, batch in enumerate(self.batches):
            name = f"batch_{b}"
            t0 = time.monotonic()
            with tracer.span(name, "bench"):
                try:
                    if traced:
                        sc.setJobGroup(f"{tag}.{name}", name)
                    ctx = tracer.call("pipeline", self._pipeline(
                        tracer, batch, b).run, self.spark)
                    if traced:
                        stats.add("exec.s", time.monotonic() - t0)
                        for st in STAGES:
                            m = ctx.metrics[st]
                            stats.add(f"pipeline.stage_s.{st}", m["seconds"])
                            stats.add("pipeline.attempts", m["attempts"])
                        self._group(tracer, stats, f"{tag}.{name}")
                except Exception as e:  # noqa: BLE001 — a failed op is counted
                    stats.errors[name] = f"{type(e).__name__}: {e}"[:300]
                    ok = False
            stats.op_s[name] = time.monotonic() - t0
        t0 = time.monotonic()
        with tracer.span("stream", "bench"):
            try:
                if not ok:
                    raise RuntimeError("a batch failed; stream input incomplete")
                q = self._stream(tracer)
                if traced:
                    stats.add("exec.s", time.monotonic() - t0)
                    progress = q.recentProgress
                    stats.add("streaming.batches", len(progress))
                    stats.add("streaming.batch_s", sum(
                        p.durationMs.get("triggerExecution", 0)
                        for p in progress) / 1e3)
                    self._group(tracer, stats, str(q.runId))
            except Exception as e:  # noqa: BLE001 — a failed op is counted
                stats.errors["stream"] = f"{type(e).__name__}: {e}"[:300]
        stats.op_s["stream"] = time.monotonic() - t0
        if traced:
            stats.add("sources.write_s", sum(
                s.end - s.start for s in tracer.spans[first_span:]
                if s.name in ("write_parquet", "apply_changes_transactional")))

    def outputs(self) -> dict:
        """The pass's final tables, as DataFrames."""
        from bi_etl_and_integration_spark.sources.readers import read_parquet
        from bi_etl_and_integration_spark.sources.snapshots import SnapshotTable
        t = self.targets
        return {
            "orders": SnapshotTable(self.spark, os.path.join(t, "orders")).read(),
            "stream_orders": SnapshotTable(
                self.spark, os.path.join(t, "stream_orders")).read(),
            "dim_customer": read_parquet(self.spark, os.path.join(
                t, "dim", f"v{len(self.batches)}")),
            "quarantine": read_parquet(self.spark,
                                       os.path.join(t, "quarantine"))}

    def output_stats(self, stats: PassStats) -> None:
        """Digests of the final tables and the bytes the pass wrote."""
        for name, df in self.outputs().items():
            stats.digests[name] = digest(df)[1]
        size, files = _tree_size(self.targets)
        written = size - self.copied[0]
        stats.values["sources.written_mb"] = written / _MB
        stats.values["sources.files_written"] = files - self.copied[1]
        stats.values["sources.write_amp"] = written / self.input_bytes

    def finish(self) -> bool:
        """Row-for-row comparison of the last pass's tables with a DuckDB
        SQL replay of the same batches."""
        from etl_oracle import replay, same_rows
        want = replay(self.sf_dir, self.batches)
        got = self.outputs()
        return all(same_rows(got[k], want[k]) for k in want)


WORKLOADS = {w.name: w for w in (LlmCuration, EtlLoad)}
