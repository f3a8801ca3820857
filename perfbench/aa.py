#!/usr/bin/env python3
"""A/A check: run the benchmark as two sets of the same code, in
alternation, and report for every metric each set's median and
quartiles, and whether the sets agree within the bounds in
``BENCHMARK.json``.

    python3 perfbench/aa.py --workload llm_curation --runs 10
    python3 perfbench/aa.py --workload etl_load --runs 3 --trace 1

Set A runs seeds 1..N and set B seeds 101..100+N, one run of A, then one
of B, and so on.  An end-to-end metric agrees when each set's spread
(quartile distance over median) is within its bound and set B's median
is not worse than set A's by more than the bound; it is steady when the
spread of all runs pooled is under a third of its bound.  Count metrics of the traced run are also checked
for repeating exactly.  ``--sets 1`` runs set A only.  Raw results go to
``.perfbench/out/``; the last stdout line is a JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def one_run(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        sys.exit(f"run failed ({p.returncode}): {' '.join(cmd)}\n"
                 f"{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    out["context"] = json.loads(lines[-2])["context"]
    out["seed"] = seed
    out["wall_s"] = time.monotonic() - t0
    return out


def summarize(bench: dict, sets: list[list[dict]], trace: int) -> dict:
    specs = bench["per_layer"] if trace else bench["end_to_end"]
    report = {}
    for spec in specs:
        name = spec["name"]
        rows = []
        for runs in sets:
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = quartiles(vals)
            rows.append({"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else 0.0,
                         "values": vals})
        pooled = [v for r in rows for v in r["values"]]
        q1, med, q3 = quartiles(pooled)
        entry = {"sets": rows, "pooled_spread": (q3 - q1) / med if med else 0.0}
        if "bound" in spec:
            bound = spec["bound"]
            spreads_ok = all(r["spread"] <= bound for r in rows)
            shift = 0.0
            if len(rows) == 2 and rows[0]["median"]:
                sign = 1 if spec["better"] == "lower" else -1
                shift = sign * (rows[1]["median"] - rows[0]["median"]) \
                    / rows[0]["median"]
            entry.update(bound=bound, shift=shift,
                         agree=spreads_ok and shift <= bound,
                         steady=entry["pooled_spread"] < bound / 3)
        elif spec["unit"] == "count":
            entry["exact"] = len({v for r in rows for v in r["values"]}) == 1
        report[name] = entry
    return report


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--sets", type=int, choices=[1, 2], default=2)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sets: list[list[dict]] = [[] for _ in range(args.sets)]
    for i in range(args.runs):
        for s in range(args.sets):
            r = one_run(bench, args.workload, 100 * s + i + 1, args.trace)
            sets[s].append(r)
            print(f"set {'AB'[s]} seed {r['seed']}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} "
                  f"wall={r['wall_s']:.0f}s", flush=True)
    report = summarize(bench, sets, args.trace)
    for name, e in report.items():
        cells = "  ".join(f"{'AB'[i]}: {r['median']:.4g} "
                          f"[{r['q1']:.4g}, {r['q3']:.4g}] "
                          f"spread {r['spread']:.3f}"
                          for i, r in enumerate(e["sets"]))
        verdict = ""
        if "agree" in e:
            verdict = (f"shift {e['shift']:+.3f} bound {e['bound']} "
                       f"{'agree' if e['agree'] else 'DISAGREE'}"
                       f"{' steady' if e['steady'] else ''}")
        elif "exact" in e:
            verdict = "exact" if e["exact"] else "varies"
        print(f"{name:36s} {cells}  pooled spread "
              f"{e['pooled_spread']:.3f}  {verdict}")
    out = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"aa-{args.workload}-t{args.trace}-"
                                f"{int(time.time())}.json"), "w") as fh:
        json.dump({"sets": sets, "report": report}, fh, indent=1)
    ok = all(r["correct"] and r["failed"] == 0 for runs in sets for r in runs)
    print(json.dumps({
        "workload": args.workload, "trace": args.trace, "all_correct": ok,
        "agree": all(e.get("agree", True) for e in report.values()),
        "steady": all(e.get("steady", True) for e in report.values()),
        "exact_counts": all(e.get("exact", True) for e in report.values())}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
