"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship TPC-H-Q1-shaped pricing summary
(SURVEY.md §7.1 step 1) at sf0.001.  ``queries()`` / ``oracle_sql()``
expose the full declared corpus (SURVEY.md §2.12 Q01–Q42 plus the
LLM-pipeline extras) implemented in
``bi_etl_and_integration_spark.queries``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bi_etl_and_integration_spark.queries import ORACLE, QUERIES

# Each verification round checks the FIRST 50 ``queries()`` entries and
# commits the verdicts as CORRECTNESS_r<round>.json; ``_ordered()``
# derives the next window from those files.


def _verified_so_far() -> tuple[set[str], set[str], set[str],
                                dict[str, int]]:
    """Scan the committed CORRECTNESS_r<round>.json verdict files, in
    round order, for queries that already hold a green verdict
    (hash_match, or a completed rows-only check), the subset with a
    HASH verdict specifically, the ones whose latest check FAILED, and
    the round of each query's newest verdict."""
    import json
    import os
    import re
    green: set[str] = set()
    hashed: set[str] = set()
    failed: set[str] = set()
    last_round: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    pattern = re.compile(r"CORRECTNESS_r(\d+)\.json")
    rounds = sorted((int(m.group(1)), m.group(0))
                    for m in map(pattern.fullmatch, os.listdir(here)) if m)
    for rnd, fname in rounds:
        try:
            with open(os.path.join(here, fname)) as fh:
                verdicts = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in verdicts.items():
            if not isinstance(row, dict):
                continue
            last_round[name] = rnd
            if row.get("hash_match") or (row.get("err") == "no_oracle"
                                         and row.get("spark_rows")
                                         is not None):
                green.add(name)
                failed.discard(name)
                if row.get("hash_match"):
                    hashed.add(name)
            else:
                failed.add(name)
    return green, hashed, failed, last_round


def _ordered() -> list[str]:
    """Registration order = the driver's verification order (it checks
    a fixed-size prefix each round).  Self-rotating with zero manual
    curation: previously-FAILED queries come first (their fixes need
    re-verification, and they are few), then queries whose strongest
    possible verdict is still outstanding — no verdict at all in any
    committed CORRECTNESS_r*.json, OR oracle-bearing but never
    hash-verified (a rows-only entry that later GAINS a value oracle
    rotates back in automatically) — then the proven tail.  Inside each
    group the OLDEST newest-verdict goes first (never verified = round
    0), then declaration order, so absent failures a window of 50
    re-verifies every query at least once per ceil(len(QUERIES) / 50)
    rounds."""
    green, hashed, failed, last_round = _verified_so_far()
    decl = {n: i for i, n in enumerate(QUERIES)}

    def group(n: str) -> int:
        if n in failed:
            return 0
        pending = (n not in green) or (n in ORACLE and n not in hashed)
        return 1 if pending else 2

    return sorted(QUERIES,
                  key=lambda n: (group(n), last_round.get(n, 0), decl[n]))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q18_hash_aggregate"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: QUERIES[n] for n in _ordered()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted => rows-only check)."""
    return {n: ORACLE[n] for n in _ordered() if n in ORACLE}
