"""Leg decompositions for x27 / q17b / q64 (VERDICT r11 items 4/5/7),
interleaved min-of-N in one session at $SPARK_GRAFT_SF_DIR."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod  # noqa: F401
from bi_etl_and_integration_spark import get_session
from bi_etl_and_integration_spark.operators import curation as cu_ops
from bi_etl_and_integration_spark.operators import relational as rel_ops
from bi_etl_and_integration_spark.queries import QUERIES, _catalog

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/repo/.bench_data/sf10")
spark = get_session("r12_legs2")
spark.sparkContext.setLogLevel("ERROR")
cat = _catalog(spark, sf_dir)


def consume(df):
    cols = [F.col(c) for c in df.columns]
    return df.select(F.count(F.lit(1)).alias("n"),
                     F.bit_xor(F.xxhash64(*cols)).alias("d")).collect()[0]


def _messy():
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


def x27_nocanon(spark, sf_dir):
    base = rel_ops.spread_for_compute(
        cat.documents.select("doc_id", "source"), "doc_id", min_bytes=0)
    return (base.select(_messy().alias("curl"))
            .groupBy("curl")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
            .orderBy("curl"))


def x27_canon_only(spark, sf_dir):
    base = rel_ops.spread_for_compute(
        cat.documents.select("doc_id", "source"), "doc_id", min_bytes=0)
    return base.select(cu_ops.canonicalize_url(_messy()).alias("curl"))


def q17b_agg(spark, sf_dir):
    return (cat.orders
            .groupBy(F.col("o_custkey").alias("user_id"),
                     F.col("o_orderdate").cast("date").alias("od"))
            .agg(F.max("o_orderkey").alias("o_orderkey")))


def q17b_noorder(spark, sf_dir):
    ord_ = q17b_agg(spark, sf_dir)
    ev = cat.events.select("event_id", "user_id",
                           F.col("ts").cast("date").alias("ed"))
    j = rel_ops.asof_join(ev, ord_, "user_id", "ed", "od",
                          direction="backward")
    return j.select("event_id", F.col("o_orderkey").alias("matched_order"))


def q64_persist(spark, sf_dir):
    li = cat.lineitem
    g = (li.groupBy("l_returnflag", "l_linestatus")
         .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
              .alias("sum_qty"),
              F.count(F.lit(1)).cast("bigint").alias("n"))).persist()
    totals = g.agg(F.sum("sum_qty").alias("sum_qty"),
                   F.sum("n").cast("bigint").alias("n"))
    for n in ("sum_qty", "n"):
        totals = totals.withColumn(n, F.col(n).cast(g.schema[n].dataType))
    detail = g.select("l_returnflag", "l_linestatus", "sum_qty", "n",
                      F.lit(False).alias("is_total"))
    tot = totals.select(F.lit(None).cast(g.schema["l_returnflag"].dataType)
                        .alias("l_returnflag"),
                        F.lit(None).cast(g.schema["l_linestatus"].dataType)
                        .alias("l_linestatus"),
                        "sum_qty", "n", F.lit(True).alias("is_total"))
    out = detail.unionByName(tot)
    return (out.select("l_returnflag", "l_linestatus",
                       F.col("sum_qty").cast("double").alias("sum_qty"),
                       "n", "is_total")
            .orderBy("is_total", "l_returnflag", "l_linestatus"))


variants = {
    "x27_full": QUERIES["x27_url_dedup"],
    "x27_nocanon": x27_nocanon,
    "x27_canon_only": x27_canon_only,
    "q17b_full": QUERIES["q17b_asof_join"],
    "q17b_noorder": q17b_noorder,
    "q17b_agg": q17b_agg,
    "q64_full": QUERIES["q64_with_totals"],
    "q64_persist": q64_persist,
}
dig = {}
for n, f in variants.items():            # warm
    r = consume(f(spark, sf_dir))
    dig[n] = (r["n"], r["d"])
times = {k: [] for k in variants}
for _ in range(int(os.environ.get("R12_ROUNDS", "3"))):
    for name, fn in variants.items():
        spark.sparkContext.setJobDescription(f"leg {name}")
        t0 = time.monotonic()
        consume(fn(spark, sf_dir))
        times[name].append(round(time.monotonic() - t0, 3))
    spark.catalog.clearCache()
out = [f"sf_dir={sf_dir} load={os.getloadavg()[0]:.1f}"]
for name, ts in times.items():
    out.append(f"{name}: min={min(ts)} samples={ts} n={dig[name][0]} "
               f"digest={dig[name][1]}")
out.append(f"q64 digests match: {dig['q64_full'] == dig['q64_persist']}")
print("\n".join(out))
with open(os.environ.get("R12_OUT", "/tmp/r12_legs2.out"), "w") as fh:
    fh.write("\n".join(out) + "\n")
spark.stop()
