#!/usr/bin/env python
"""Round-9 post-fix re-measurement: x27 fast path, x38 suffix fusion,
x08 count variants.  Same harness contract as r9_measure.py."""
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

spark = get_session("r9measure2")
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


def x27_after():
    from bi_etl_and_integration_spark.operators import curation as cu
    base = docs(SF10).select("doc_id", "source")
    u = messy_url()
    bench("x27 full canonicalize_url (POST fast path)",
          lambda: base.select(cu.canonicalize_url(u).alias("c"))
          .groupBy("c").count())


def x38_after():
    from bi_etl_and_integration_spark.operators import curation as cu
    psl = cu.load_public_suffix_list()
    normal_only = tuple(r for r in psl if not r.startswith(("*.", "!")))
    for sf, label in ((SF01, "sf0.1"), (SF10, "sf10")):
        base = docs(sf).select("doc_id", messy_url().alias("u"))
        bench(f"x38 {label} normal rules (POST fusion)",
              lambda b=base, p=normal_only: cu.with_url_parts(
                  b, "u", public_suffixes=p,
                  on_unsupported="skip").drop("u"))
        bench(f"x38 {label} full PSL (POST fusion)",
              lambda b=base, p=psl: cu.with_url_parts(
                  b, "u", public_suffixes=p,
                  on_unsupported="skip").drop("u"))


def x08_variants():
    base = docs(SF10).select("doc_id", "text")
    pat = r"[^\p{L}\p{N}]+"
    c = F.col("text")
    bench("x08 count: current (lower + split + array_remove)",
          lambda: base.select(
              "doc_id",
              F.size(F.array_remove(F.split(F.lower(c), pat), ""))
              .alias("t")))
    bench("x08 count: NO lower (split + array_remove)",
          lambda: base.select(
              "doc_id",
              F.size(F.array_remove(F.split(c, pat), "")).alias("t")))
    bench("x08 count: regexp_extract_all token runs",
          lambda: base.select(
              "doc_id",
              F.size(F.regexp_extract_all(
                  c, F.lit(r"[\p{L}\p{N}]+"), 0)).alias("t")))
    # the x08 declared two-column shape with the no-lower count
    bench("x08 declared shape w/ no-lower count",
          lambda: base.select(
              "doc_id", F.length(c).alias("q_n_chars"),
              F.size(F.array_remove(F.split(c, pat), ""))
              .alias("q_n_tokens")))


if __name__ == "__main__":
    which = set(sys.argv[1:])
    for name, fn in (("x27", x27_after), ("x38", x38_after),
                     ("x08", x08_variants)):
        if not which or name in which:
            print(f"--- {name} ---", flush=True)
            fn()
    spark.stop()
