#!/usr/bin/env python
"""Round-9 measurement harness (VERDICT r8 items 3, 4, 5, 7, 8):
interleaved min-of-N at quiet load on the sf10/sf0.1 scale fixtures.

  - x27: decompose the ~2.3 s canonicalize_url floor per stage
  - q17b: measure the two-join oracle-shaped re-plan vs the
    union+window operator (the r8 rejection was argument-only)
  - x38: pre/post-PSL-rules cost accounting for with_url_parts
  - x08: decompose quality_features' remaining expressions
  - q64: DECIMAL-exact vs double-sum WITH TOTALS

Prints one line per measurement; paste the results into SCALE.md.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bi_etl_and_integration_spark import get_session  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF10 = os.environ.get("R9_SF10", "/root/repo/.bench_data/sf10")
SF01 = os.environ.get("R9_SF01", "/root/testdata/sf0.1")
N = int(os.environ.get("R9_RUNS", "5"))

spark = get_session("r9measure")
spark.sparkContext.setLogLevel("ERROR")


def consume(df):
    cols = [F.col(c) for c in df.columns]
    (df.select(F.count(F.lit(1)).alias("n"),
               F.bit_xor(F.xxhash64(*cols)).alias("d")).collect())


def bench(name, fn, n=N):
    consume(fn())                       # warm: codegen + JIT, fresh plan
    samples = []
    for _ in range(n):
        t0 = time.monotonic()
        consume(fn())                   # fresh DataFrame per run — no
        samples.append(time.monotonic() - t0)  # shuffle/stage reuse
    print(f"{name}: min={min(samples):.3f}s load={os.getloadavg()[0]:.1f} "
          f"samples={[round(s, 3) for s in samples]}", flush=True)
    return min(samples)


def docs(sf):
    from bi_etl_and_integration_spark.operators.relational import (
        spread_for_compute)
    return spread_for_compute(
        spark.read.parquet(os.path.join(sf, "documents.parquet"))
        .select("doc_id", "source", "text"), "doc_id", min_bytes=0)


def messy_url():
    return F.concat(
        F.lit("HTTPS://"), F.upper("source"),
        F.lit(".Example.com:443/docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("?utm_source=x&id="),
                        (F.col("doc_id") % 7).cast("string")))
        .otherwise(F.concat(F.lit("?id="),
                            (F.col("doc_id") % 7).cast("string"))),
        F.lit("#sec"))


# ----------------------------------------------------------- x27 stages
def x27_stages():
    from bi_etl_and_integration_spark.operators import curation as cu
    base = docs(SF10).select("doc_id", "source")
    u = messy_url()

    scheme = F.lower(F.regexp_extract(u, r"^(\w+)://", 1))
    host = F.lower(F.regexp_extract(u, r"^\w+://([^/:?#]+)", 1))
    port = F.regexp_extract(u, r"^\w+://[^/:?#]+:(\d+)", 1)
    default = ((scheme == "http") & (port == "80")) | \
        ((scheme == "https") & (port == "443"))
    port_part = F.when((port == "") | default, F.lit("")) \
        .otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_extract(u, r"^\w+://[^/?#]+([^?#]*)", 1)
    path = F.regexp_replace(path, r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"^[^#?]*\?([^#]*)", 1)
    keep = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~cu._is_tracking(p)))
    qpart = F.when(F.size(keep) > 0,
                   F.concat(F.lit("?"), F.array_join(keep, "&"))) \
        .otherwise(F.lit(""))

    bench("x27 baseline (url build + count only)",
          lambda: base.select(u.alias("c")).groupBy("c").count())
    bench("x27 stage scheme+host+port",
          lambda: base.select(F.concat(scheme, F.lit("://"), host,
                                       port_part).alias("c"))
          .groupBy("c").count())
    bench("x27 stage +path",
          lambda: base.select(F.concat(scheme, F.lit("://"), host,
                                       port_part, path).alias("c"))
          .groupBy("c").count())
    bench("x27 stage +query-extract (no param proc)",
          lambda: base.select(F.concat(scheme, F.lit("://"), host,
                                       port_part, path, query).alias("c"))
          .groupBy("c").count())
    bench("x27 full canonicalize_url",
          lambda: base.select(cu.canonicalize_url(u).alias("c"))
          .groupBy("c").count())

    # parse_url-based alternative for the component legs
    pscheme = F.lower(F.parse_url(u, F.lit("PROTOCOL")))
    phost_port = F.lower(F.parse_url(u, F.lit("HOST")))
    ppath = F.parse_url(u, F.lit("PATH"))
    pquery = F.parse_url(u, F.lit("QUERY"))
    pkeep = F.array_sort(F.filter(
        F.split(F.coalesce(pquery, F.lit("")), "&"),
        lambda p: (p != "") & ~cu._is_tracking(p)))
    pq = F.when(F.size(pkeep) > 0,
                F.concat(F.lit("?"), F.array_join(pkeep, "&"))) \
        .otherwise(F.lit(""))
    # NOTE: parse_url HOST keeps the port; default-port handling would
    # need extra expressions — this measures the extraction cost shape
    bench("x27 alt parse_url components (approx, no port norm)",
          lambda: base.select(F.concat(pscheme, F.lit("://"), phost_port,
                                       ppath, pq).alias("c"))
          .groupBy("c").count())


# ------------------------------------------------------------ q17b plan
def q17b_plans():
    from bi_etl_and_integration_spark.operators import relational as rel
    orders = spark.read.parquet(os.path.join(SF10, "orders.parquet"))
    events = spark.read.parquet(os.path.join(SF10, "events.parquet"))
    from bi_etl_and_integration_spark.sources.readers import (
        _normalize_nanos)
    events = _normalize_nanos(events)

    def current():
        ord_ = (orders.groupBy(F.col("o_custkey").alias("user_id"),
                               F.col("o_orderdate").cast("date")
                               .alias("od"))
                .agg(F.max("o_orderkey").alias("o_orderkey")))
        ev = events.select("event_id", "user_id",
                           F.col("ts").cast("date").alias("ed"))
        j = rel.asof_join(ev, ord_, "user_id", "ed", "od",
                          direction="backward")
        return j.select("event_id", F.col("o_orderkey")
                        .alias("matched_order"))

    def two_join():
        # the oracle-shaped restatement: range join + max + back-join
        ord_ = (orders.groupBy(F.col("o_custkey").alias("user_id"),
                               F.col("o_orderdate").cast("date")
                               .alias("od"))
                .agg(F.max("o_orderkey").alias("o_orderkey")))
        ev = events.select("event_id", "user_id",
                           F.col("ts").cast("date").alias("ed"))
        m = (ev.join(ord_.select("user_id", "od"), ["user_id"], "left")
             .where(F.col("od").isNull() | (F.col("od") <= F.col("ed")))
             .groupBy("event_id", "user_id")
             .agg(F.max("od").alias("best_od")))
        return (m.join(ord_, (m["user_id"] == ord_["user_id"])
                       & (m["best_od"] == ord_["od"]), "left")
                .select("event_id", F.col("o_orderkey")
                        .alias("matched_order")))

    bench("q17b current union+window asof", current)
    bench("q17b two-join oracle-shaped re-plan", two_join)


# ------------------------------------------------------------- x38 cost
def x38_cost():
    from bi_etl_and_integration_spark.operators import curation as cu
    for sf, label in ((SF01, "sf0.1"), (SF10, "sf10")):
        base = docs(sf).select("doc_id", messy_url().alias("u"))
        psl = cu.load_public_suffix_list()
        normal_only = tuple(r for r in psl
                            if not r.startswith(("*.", "!")))
        bench(f"x38 {label} parse_url only (no tld/domain)",
              lambda b=base: cu.with_url_parts(
                  b, "u", public_suffixes=(),
                  on_unsupported="skip").drop("u"))
        bench(f"x38 {label} normal PSL rules only",
              lambda b=base, p=normal_only: cu.with_url_parts(
                  b, "u", public_suffixes=p,
                  on_unsupported="skip").drop("u"))
        bench(f"x38 {label} full PSL (wildcard+exception)",
              lambda b=base, p=psl: cu.with_url_parts(
                  b, "u", public_suffixes=p,
                  on_unsupported="skip").drop("u"))


# -------------------------------------------------------------- x08 cost
def x08_cost():
    from bi_etl_and_integration_spark.operators import text as tx
    from bi_etl_and_integration_spark.operators.fuzzy import tokenize
    base = docs(SF10).select("doc_id", "text")
    bench("x08 n_chars only",
          lambda: base.select("doc_id", F.length("text").alias("c")))
    bench("x08 tokenize-size only",
          lambda: base.select("doc_id",
                              F.size(tokenize("text")).alias("t")))
    bench("x08 declared (n_chars + n_tokens via quality_features)",
          lambda: tx.quality_features(base, "text")
          .select("doc_id", "q_n_chars", "q_n_tokens"))
    bench("x08 full quality_features (all columns + score)",
          lambda: tx.quality_features(base, "text"))


# -------------------------------------------------------------- q64 cost
def q64_cost():
    from bi_etl_and_integration_spark.operators import aggregate as agg
    li = spark.read.parquet(os.path.join(SF10, "lineitem.parquet"))

    def decimal_path():
        return agg.with_totals(
            li, ["l_returnflag", "l_linestatus"],
            {"sum_qty": F.sum(F.col("l_quantity").cast("decimal(18,2)")),
             "n": F.count(F.lit(1)).cast("bigint")},
            merge={"sum_qty": F.sum("sum_qty"),
                   "n": F.sum("n").cast("bigint")}).select(
            "l_returnflag", "l_linestatus",
            F.col("sum_qty").cast("double").alias("sum_qty"),
            "n", "is_total")

    def double_path():
        return agg.with_totals(
            li, ["l_returnflag", "l_linestatus"],
            {"sum_qty": F.sum(F.col("l_quantity").cast("double")),
             "n": F.count(F.lit(1)).cast("bigint")},
            merge={"sum_qty": F.sum("sum_qty"),
                   "n": F.sum("n").cast("bigint")}).select(
            "l_returnflag", "l_linestatus", "sum_qty", "n", "is_total")

    bench("q64 DECIMAL-exact sums (declared)", decimal_path)
    bench("q64 double sums", double_path)
    # value check: does the double path still agree at the output's
    # double cast?  (the declared output IS a double cast of the exact
    # decimal — if a native double sum lands on the same bits at this
    # data scale, the 3x would be free; if not, DECIMAL stays)
    a = {(r["l_returnflag"], r["l_linestatus"], r["is_total"]):
         r["sum_qty"] for r in decimal_path().collect()}
    b = {(r["l_returnflag"], r["l_linestatus"], r["is_total"]):
         r["sum_qty"] for r in double_path().collect()}
    diff = {k: (a[k], b[k]) for k in a if a[k] != b[k]}
    print(f"q64 double-vs-decimal value diff at sf10: "
          f"{len(diff)}/{len(a)} groups differ "
          f"{dict(list(diff.items())[:3]) if diff else ''}", flush=True)


if __name__ == "__main__":
    which = set(sys.argv[1:])
    for name, fn in (("x27", x27_stages), ("q17b", q17b_plans),
                     ("x38", x38_cost), ("x08", x08_cost),
                     ("q64", q64_cost)):
        if not which or name in which:
            print(f"--- {name} ---", flush=True)
            fn()
    spark.stop()
