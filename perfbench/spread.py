"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload curate --seeds 1-10 [--seconds 5] [--trace 0]

For every metric: the median of the per-run values and the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of that median, next to the metric's bound from ``BENCHMARK.json``.
Also the failed share of attempted operations and each run's wall time.
Results go to ``perfbench/out/spread-<workload>-t<trace>.json``.
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    seconds = args.seconds or spec["run_seconds"]
    runs = []
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        out = subprocess.run(spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                                "--seconds", str(seconds), "--trace", str(args.trace)],
                             cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit {out.returncode}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        res["seed"], res["wall_s"] = seed, wall
        runs.append(res)
        print(f"seed {seed}: wall {wall:.1f} s correct {res['correct']} "
              f"{res['failed']}/{res['attempted']} failed "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                         if k in bounds or args.trace == 0), flush=True)
    summary = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        summary[name] = {"median": med, "iqr_share": (q3 - q1) / med if med else 0.0,
                         "bound": bounds.get(name), "values": vals}
    for name, s in summary.items():
        if args.trace == 0:
            print(f"{name:16s} median {s['median']:.4g}  spread {s['iqr_share']:.3f}  bound {s['bound']}")
    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"failed share per run: {sorted(shares)}; all correct: {all(r['correct'] for r in runs)}; "
          f"walls {min(r['wall_s'] for r in runs):.1f}-{max(r['wall_s'] for r in runs):.1f} s")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"spread-{args.workload}-t{args.trace}.json"), "w") as f:
        json.dump({"runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
