"""x27 A/B at $SPARK_GRAFT_SF_DIR: r11 canonicalize_url (inlined) vs
the r12 byte-op-prefix version, interleaved min-of-N."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Column, functions as F

import __spark_entry__ as entrymod  # noqa: F401
from bi_etl_and_integration_spark import get_session
from bi_etl_and_integration_spark.operators import relational as rel_ops
from bi_etl_and_integration_spark.operators.curation import _is_tracking
from bi_etl_and_integration_spark.queries import QUERIES, _catalog

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/repo/.bench_data/sf10")
spark = get_session("r12_x27ab")
spark.sparkContext.setLogLevel("ERROR")
cat = _catalog(spark, sf_dir)


def consume(df):
    cols = [F.col(c) for c in df.columns]
    return df.select(F.count(F.lit(1)).alias("n"),
                     F.bit_xor(F.xxhash64(*cols)).alias("d")).collect()[0]


def canonicalize_url_r11(url) -> Column:
    u = F.col(url) if isinstance(url, str) else url
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

    def _qpart(q: Column) -> Column:
        keep = F.array_sort(F.filter(
            F.split(q, "&"),
            lambda p: (p != "") & ~_is_tracking(p)))
        multi = F.when(F.size(keep) > 0,
                       F.concat(F.lit("?"), F.array_join(keep, "&"))) \
            .otherwise(F.lit(""))
        return F.when(
            ~q.contains("&"),
            F.when((q == "") | _is_tracking(q), F.lit(""))
            .otherwise(F.concat(F.lit("?"), q))).otherwise(multi)

    qpart = F.element_at(F.transform(F.array(query), _qpart), 1)
    canon = F.concat(scheme, F.lit("://"), host, port_part, path, qpart)
    return F.when((scheme == "") | (host == ""), F.lit(None)) \
        .otherwise(canon)


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


def x27_old(spark, sf_dir):
    base = rel_ops.spread_for_compute(
        cat.documents.select("doc_id", "source"), "doc_id", min_bytes=0)
    return (base.select(canonicalize_url_r11(_messy()).alias("curl"))
            .groupBy("curl")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
            .orderBy("curl"))


variants = {"x27_old": x27_old, "x27_new": QUERIES["x27_url_dedup"]}
dig = {}
for n, f in variants.items():
    r = consume(f(spark, sf_dir))
    dig[n] = (r["n"], r["d"])
times = {k: [] for k in variants}
for _ in range(int(os.environ.get("R12_ROUNDS", "5"))):
    for name, fn in variants.items():
        spark.sparkContext.setJobDescription(f"ab {name}")
        t0 = time.monotonic()
        consume(fn(spark, sf_dir))
        times[name].append(round(time.monotonic() - t0, 3))
out = [f"sf_dir={sf_dir} load={os.getloadavg()[0]:.1f}"]
for name, ts in times.items():
    out.append(f"{name}: min={min(ts)} samples={ts} n={dig[name][0]} "
               f"digest={dig[name][1]}")
out.append(f"digests match: {dig['x27_old'] == dig['x27_new']}")
print("\n".join(out))
with open(os.environ.get("R12_OUT", "/tmp/r12_x27ab.out"), "w") as fh:
    fh.write("\n".join(out) + "\n")
spark.stop()
