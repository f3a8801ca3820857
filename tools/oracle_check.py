"""Dev harness mimicking the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet fixtures; compare row count, column names, and an
order-insensitive canonicalized value multiset.

Usage: python tools/oracle_check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter

import duckdb


def canon_value(v):
    import datetime
    import decimal
    import math
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return format(v, ".10g") if v == v else "NaN"
    if isinstance(v, decimal.Decimal):
        return format(float(v), ".10g")
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon_value(r[i]) for i in order) for r in rows)


def write_md(path, sf_dir, results, n_pass, n_fail, n_rows_only):
    """Regenerate CORRECTNESS_LOCAL.md from a FULL run — the committed
    builder-side matrix must be reproduced in the same change that
    alters any query (stale-artifact rule, VERDICT r3 item 3)."""
    import datetime
    lines = [
        "# CORRECTNESS_LOCAL — builder-side full-corpus oracle matrix",
        "",
        f"Generated by `python tools/oracle_check.py {sf_dir} "
        f"--write-md` on {datetime.date.today().isoformat()}.",
        "",
        "The driver's CORRECTNESS_r{N}.json verifies the first ~50",
        "registration-order queries per round; this artifact is the",
        "builder-side run of the SAME check (row count + column names +",
        "canonicalized value multiset vs DuckDB) over ALL declared",
        "queries.",
        "",
        f"- {sf_dir}: == {n_pass} pass, {n_fail} fail, "
        f"{n_rows_only} rows-only  ({len(results)} queries)",
        "",
        "rows-only entries (approximate/learned/non-SQL by",
        "construction — LSH pair generation, sampling, sketches,",
        "learned scores, iterative merge selection, stubbed",
        "multimodal):",
    ]
    lines += [f"- {name}: {nrows} rows"
              for st, name, nrows, _dt in results if st == "rows"]
    lines += ["", "Per-query verdicts:", "", "```"]
    lines += [f"{st.upper()} {name}: {nrows} rows ({dt:.1f}s)"
              for st, name, nrows, dt in results]
    lines += ["```", ""]
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {path}")


def main():
    argv = list(sys.argv[1:])
    md_path = None
    if "--write-md" in argv:
        argv.remove("--write-md")
        md_path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "CORRECTNESS_LOCAL.md")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    if md_path and only:
        sys.exit("--write-md requires a FULL run (no query filter)")

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from bi_etl_and_integration_spark import get_session
    from bi_etl_and_integration_spark.operators.common import cache_scope

    spark = get_session("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    failures = []
    results = []  # (status, name, n_rows, sec) in verification order
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            # the query's cached intermediates end once its rows are in
            with cache_scope():
                df = fn(spark, sf_dir)
                cols = df.columns
                rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            n_fail += 1
            failures.append(name)
            results.append(("fail", name, -1, time.monotonic() - t0))
            print(f"FAIL {name}: spark error: {type(e).__name__}: "
                  f"{str(e)[:300]}")
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            n_rows_only += 1
            results.append(("rows", name, len(rows), dt))
            print(f"rows {name}: {len(rows)} rows ({dt:.1f}s) [no oracle]")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            n_fail += 1
            failures.append(name)
            results.append(("fail", name, len(rows), dt))
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        ok = True
        msgs = []
        if sorted(cols) != sorted(ocols):
            ok = False
            msgs.append(f"cols {sorted(cols)} != {sorted(ocols)}")
        if len(rows) != len(orows):
            ok = False
            msgs.append(f"rowcount {len(rows)} != {len(orows)}")
        if ok:
            s, o = canon_rows(cols, rows), canon_rows(ocols, orows)
            if s != o:
                ok = False
                diff_s = list((s - o).items())[:3]
                diff_o = list((o - s).items())[:3]
                msgs.append(f"values spark-only={diff_s} oracle-only={diff_o}")
        if ok:
            n_pass += 1
            results.append(("pass", name, len(rows), dt))
            print(f"PASS {name}: {len(rows)} rows ({dt:.1f}s)")
        else:
            n_fail += 1
            failures.append(name)
            results.append(("fail", name, len(rows), dt))
            print(f"FAIL {name}: " + "; ".join(msgs))
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if failures:
        print("failures:", " ".join(failures))
    if md_path:
        write_md(md_path, sf_dir, results, n_pass, n_fail, n_rows_only)
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
