"""Self-check of the trace.

Runs one seed of a batch workload three times: untraced, then traced
twice. Checks that

* the two traced runs give identical job, stage and task counts for
  every query run, and identical ``operators.build_jobs``,
  ``datapipe.build_jobs`` and ``spark.exec_jobs``;
* no query run starts more jobs traced than untraced;

and reports the tracing overhead: the traced run's ``total_s`` minus
the untraced run's. Exits 1 if a check fails.

Usage (from the repository root):

    python3 perfbench/selfcheck.py --workload batch_sf0.1 --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import spread

COUNTS = ("jobs_all", "stages", "tasks")
REPEATED = ("operators.build_jobs", "datapipe.build_jobs", "spark.exec_jobs")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(spread.ROOT, "BENCHMARK.json")) as fh:
        seconds = args.seconds or json.load(fh)["run_seconds"]

    plain = spread.run_once(args.workload, args.seed, seconds, 0)
    a = spread.run_once(args.workload, args.seed, seconds, 1)
    b = spread.run_once(args.workload, args.seed, seconds, 1)
    problems = []
    qa, qb, q0 = (r["detail"].get("queries", {}) for r in (a, b, plain))
    for qid in sorted(set(qa) & set(qb)):
        for c in COUNTS:
            if qa[qid][c] != qb[qid][c]:
                problems.append(f"{qid} {c}: {qa[qid][c]} vs {qb[qid][c]}")
    for m in REPEATED:
        va, vb = a["metrics"][m]["value"], b["metrics"][m]["value"]
        if va != vb:
            problems.append(f"{m}: {va} vs {vb}")
    for qid in sorted(set(qa) & set(q0)):
        untraced = q0[qid]["jobs_build"] + q0[qid]["jobs_exec"]
        if qa[qid]["jobs_all"] > untraced:
            problems.append(f"{qid}: {qa[qid]['jobs_all']} jobs traced vs "
                            f"{untraced} untraced")
    t0 = plain["detail"]["total_s"]
    report = {
        "workload": args.workload, "seed": args.seed,
        "query_runs_compared": len(set(qa) & set(qb)),
        "total_s_untraced": t0,
        "total_s_traced": [a["detail"]["total_s"], b["detail"]["total_s"]],
        "tracing_overhead_s": a["detail"]["total_s"] - t0,
        "tracing_overhead_frac": (a["detail"]["total_s"] - t0) / t0,
        "repeated_counts": {m: a["metrics"][m]["value"] for m in REPEATED},
        "problems": problems,
    }
    print(json.dumps(report, indent=2))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
