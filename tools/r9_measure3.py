#!/usr/bin/env python
"""Round-9 measurement 3: x27 param-leg variants (evaluate-once
binding vs fast path vs current) and x08 regexp_count count."""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bi_etl_and_integration_spark import get_session  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF10 = os.environ.get("R9_SF10", "/root/repo/.bench_data/sf10")
N = int(os.environ.get("R9_RUNS", "5"))

spark = get_session("r9measure3")
spark.sparkContext.setLogLevel("ERROR")


def consume(df):
    cols = [F.col(c) for c in df.columns]
    (df.select(F.count(F.lit(1)).alias("n"),
               F.bit_xor(F.xxhash64(*cols)).alias("d")).collect())


def bench(name, fn, n=N):
    consume(fn())
    samples = []
    for _ in range(n):
        t0 = time.monotonic()
        consume(fn())
        samples.append(time.monotonic() - t0)
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


def x27_variants():
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

    def head(qp):
        canon = F.concat(scheme, F.lit("://"), host, port_part, path, qp)
        return F.when((scheme == "") | (host == ""), F.lit(None)) \
            .otherwise(canon)

    # current (restored) array pipeline
    keep = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~cu._is_tracking(p)))
    qp_current = F.when(F.size(keep) > 0,
                        F.concat(F.lit("?"), F.array_join(keep, "&"))) \
        .otherwise(F.lit(""))
    bench("x27 current array pipeline",
          lambda: base.select(head(qp_current).alias("c"))
          .groupBy("c").count())

    # evaluate-once binding: query bound as a transform lambda var so
    # the regexp_extract runs ONCE however many times branches use it
    def qp_bound(q):
        kp = F.array_sort(F.filter(
            F.split(q, "&"),
            lambda p: (p != "") & ~cu._is_tracking(p)))
        multi = F.when(F.size(kp) > 0,
                       F.concat(F.lit("?"), F.array_join(kp, "&"))) \
            .otherwise(F.lit(""))
        return F.when(
            ~q.contains("&"),
            F.when((q == "") | cu._is_tracking(q), F.lit(""))
            .otherwise(F.concat(F.lit("?"), q))).otherwise(multi)

    qp_b = F.element_at(F.transform(F.array(query), qp_bound), 1)
    bench("x27 bound fast path (transform-bind)",
          lambda: base.select(head(qp_b).alias("c"))
          .groupBy("c").count())

    # bound CURRENT pipeline (no fast path): isolates the binding win
    def qp_bound_plain(q):
        kp = F.array_sort(F.filter(
            F.split(q, "&"),
            lambda p: (p != "") & ~cu._is_tracking(p)))
        return F.when(F.size(kp) > 0,
                      F.concat(F.lit("?"), F.array_join(kp, "&"))) \
            .otherwise(F.lit(""))

    qp_bp = F.element_at(F.transform(F.array(query), qp_bound_plain), 1)
    bench("x27 bound plain pipeline",
          lambda: base.select(head(qp_bp).alias("c"))
          .groupBy("c").count())


def x08_more():
    base = docs(SF10).select("doc_id", "text")
    c = F.col("text")
    bench("x08 count: regexp_count token runs",
          lambda: base.select(
              "doc_id",
              F.regexp_count(c, F.lit(r"[\p{L}\p{N}]+")).alias("t")))
    bench("x08 declared shape w/ regexp_count",
          lambda: base.select(
              "doc_id", F.length(c).alias("q_n_chars"),
              F.regexp_count(c, F.lit(r"[\p{L}\p{N}]+"))
              .alias("q_n_tokens")))


if __name__ == "__main__":
    which = set(sys.argv[1:])
    for name, fn in (("x27", x27_variants), ("x08", x08_more)):
        if not which or name in which:
            print(f"--- {name} ---", flush=True)
            fn()
    spark.stop()
