"""DuckDB SQL replay of ``etl_load``: the same batches applied one after
another to the fixture tables, written independently of the engine's
operators.  It restates the documented contracts: cast failures go to
quarantine; the CDC apply keeps the last change per key by offset (a
delete before an update before an insert at one offset) and drops
deleted keys; SCD2 end-dates a changed current version at the new
effective time and opens a new one."""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb

_ORDER_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
               "o_orderdate, o_orderpriority")


def replay(sf_dir: str, batches: list[dict[str, str]]) -> dict:
    """Expected final tables as (column names, rows)."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE orders AS SELECT {_ORDER_COLS} "
                f"FROM '{os.path.join(sf_dir, 'orders.parquet')}'")
    con.execute(
        "CREATE TABLE dim AS SELECT c_custkey, c_acctbal, c_mktsegment, "
        "TIMESTAMP '1990-01-01' AS start_ts, NULL::TIMESTAMP AS end_ts, "
        f"TRUE AS is_current FROM '{os.path.join(sf_dir, 'customer.parquet')}'")
    con.execute("CREATE TABLE quarantine AS SELECT * FROM "
                f"'{batches[0]['orders']}' LIMIT 0")
    for b in batches:
        o, c = b["orders"], b["customer"]
        con.execute(f"INSERT INTO quarantine SELECT * FROM '{o}' "
                    "WHERE o_totalprice IS NOT NULL "
                    "AND TRY_CAST(o_totalprice AS DOUBLE) IS NULL")
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE net AS
            SELECT * EXCLUDE (rn) FROM (
              SELECT * REPLACE (TRY_CAST(o_totalprice AS DOUBLE) AS o_totalprice),
                     row_number() OVER (PARTITION BY o_orderkey ORDER BY
                       "offset" DESC,
                       CASE op WHEN 1 THEN 0 WHEN 4 THEN 1 ELSE 2 END) AS rn
              FROM '{o}'
              WHERE o_totalprice IS NULL
                 OR TRY_CAST(o_totalprice AS DOUBLE) IS NOT NULL)
            WHERE rn = 1""")
        con.execute(f"""
            CREATE OR REPLACE TABLE orders AS
            SELECT * FROM orders
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM net)
            UNION ALL
            SELECT {_ORDER_COLS} FROM net WHERE op <> 1""")
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE src AS
            SELECT c_custkey, c_acctbal, c_mktsegment, eff_ts FROM (
              SELECT c_custkey, TRY_CAST(c_acctbal AS DOUBLE) AS c_acctbal,
                     c_mktsegment, eff_ts,
                     row_number() OVER (PARTITION BY c_custkey ORDER BY
                       eff_ts DESC, TRY_CAST(c_acctbal AS DOUBLE) DESC,
                       c_mktsegment DESC) AS rn
              FROM '{c}'
              WHERE eff_ts IS NOT NULL AND (c_acctbal IS NULL
                 OR TRY_CAST(c_acctbal AS DOUBLE) IS NOT NULL))
            WHERE rn = 1""")
        con.execute("""
            CREATE OR REPLACE TABLE dim AS
            WITH cur AS (SELECT * FROM dim WHERE is_current),
            j AS (
              SELECT cur.*, s.c_custkey AS s_key, s.c_acctbal AS s_bal,
                     s.c_mktsegment AS s_seg, s.eff_ts,
                     (cur.c_acctbal IS DISTINCT FROM s.c_acctbal
                      OR cur.c_mktsegment IS DISTINCT FROM s.c_mktsegment)
                       AS changed
              FROM cur JOIN src s USING (c_custkey))
            SELECT * FROM dim WHERE NOT is_current
            UNION ALL
            SELECT * FROM cur
            WHERE c_custkey NOT IN (SELECT c_custkey FROM j WHERE changed)
            UNION ALL
            SELECT c_custkey, c_acctbal, c_mktsegment, start_ts, eff_ts, FALSE
            FROM j WHERE changed
            UNION ALL
            SELECT c_custkey, c_acctbal, c_mktsegment, eff_ts, NULL, TRUE
            FROM src
            WHERE c_custkey NOT IN (SELECT c_custkey FROM cur)
               OR c_custkey IN (SELECT c_custkey FROM j WHERE changed)""")
    out = {}
    for name, table in (("orders", "orders"), ("stream_orders", "orders"),
                        ("dim_customer", "dim"), ("quarantine", "quarantine")):
        cur = con.execute(f"SELECT * FROM {table}")
        out[name] = ([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return "NULL" if v is None else str(v)


def _bag(cols, rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_canon(r[i]) for i in order) for r in rows)


def same_rows(df, want) -> bool:
    """Whether a Spark frame holds exactly the expected row multiset
    (columns matched by name)."""
    cols, rows = want
    return (sorted(df.columns) == sorted(cols)
            and _bag(df.columns, df.collect()) == _bag(cols, rows))
