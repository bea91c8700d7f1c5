"""Run-to-run spread of the benchmark's metrics.

Runs ``perfbench/run.py`` once per seed, one run at a time, and prints
for every metric its median and the distance between its first and
third quartiles as a share of the median — the figure a metric's
``bound`` in BENCHMARK.json has to stay above.

Usage (from the repository root):

    python3 perfbench/spread.py --workload stream_events --seeds 1-10 \\
        [--seconds 8] [--trace 0] [--out runs.jsonl]
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    out = json.loads(lines[-1])
    out["detail"] = json.loads(lines[-2])["detail"]
    out["wall_s"] = time.time() - t0
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, ((q3 - q1) / med if med else 0.0)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    runs = []
    for s in seeds(args.seeds):
        r = run_once(args.workload, s, seconds, args.trace)
        runs.append(r)
        print(f"seed {s}: {r['wall_s']:.1f} s wall, correct={r['correct']}, "
              f"steal {r['detail'].get('steal_pct')} %", flush=True)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"seed": s, **r}) + "\n")
    print(f"\n{args.workload}: {len(runs)} runs, wall "
          f"{sum(r['wall_s'] for r in runs):.0f} s")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med, sp = spread(vals)
        b = bounds.get(name)
        flag = "" if b is None else (
            "  ok" if sp < b / 3 else "  WIDE" if sp >= b else "  <bound")
        print(f"  {name:40s} median {med:12.4f}  spread {sp:6.3f}"
              f"  bound {b}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
