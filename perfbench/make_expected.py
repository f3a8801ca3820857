#!/usr/bin/env python3
"""Regenerate ``expected.json``: every ``llm_curation`` op's digest (row
count and xxhash64 xor) on the benchmark fixtures, and the final-table
digests of ``etl_load`` for seeds 1-10.

    python3 perfbench/make_expected.py

Each ``etl_load`` seed is checked row for row against the DuckDB replay
in ``etl_oracle.py`` before its digests are written, and the query ops
are diffed against their declared DuckDB ``ORACLE`` SQL by
``tools/oracle_check.py`` on the same fixtures.  Nothing is written if
any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import run
from spans import Tracer
from workloads import WORKLOADS, PassStats

ETL_SEEDS = range(1, 11)


def one_pass(wl) -> PassStats:
    wl.reset()
    stats = PassStats(wl.ops)
    wl.run_pass(Tracer(False), stats, "expected")
    if stats.errors:
        sys.exit(f"{wl.name}: {stats.errors}")
    return stats


def main() -> int:
    work = os.path.join(run.ROOT, ".perfbench", f"expected-{os.getpid()}")
    run.setup_env(work, trace=0)
    from bi_etl_and_integration_spark import get_session
    spark = get_session("perfbench-expected")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = run.DATA
    out: dict = {}
    try:
        wl = WORKLOADS["llm_curation"](spark, work, 0)
        wl.prepare(sf_dir)
        out["llm_curation"] = {k: list(v) for k, v in
                               sorted(one_pass(wl).digests.items())}
        out["etl_load"] = {}
        for seed in ETL_SEEDS:
            wl = WORKLOADS["etl_load"](spark, work, seed)
            wl.prepare(sf_dir)
            stats = one_pass(wl)
            if not wl.finish():
                sys.exit(f"etl_load seed {seed}: differs from the DuckDB replay")
            wl.output_stats(stats)
            out["etl_load"][str(seed)] = {k: list(v) for k, v in
                                          sorted(stats.digests.items())}
        run.stop_engine(spark)
        ops = sorted(out["llm_curation"])
        check = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "oracle_check.py"),
             sf_dir, *ops], capture_output=True, text=True)
        verdicts = [ln.split("\r")[-1] for ln in check.stdout.splitlines()
                    if ln.split("\r")[-1].startswith(("PASS", "FAIL"))]
        print("\n".join(verdicts))
        if check.returncode != 0 or len(verdicts) != len(ops):
            sys.exit("oracle cross-check failed; expected.json not written")
    finally:
        os.chdir(run.ROOT)
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
