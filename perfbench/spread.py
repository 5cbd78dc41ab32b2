"""Run-to-run spread of the end-to-end metrics, as the bounds are judged.

    python3 perfbench/spread.py --workloads drip,bulk,serve --seeds 1-10 \\
        --seconds 10 --out perfbench/spread.json

Runs ``run.py`` once per (workload, seed), one run at a time, and reports
for each metric the median and the spread: the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share of
the median. With ``--bounds`` it also checks each spread against a third of
the metric's bound in ``BENCHMARK.json``.
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


def seeds_arg(s: str) -> list[int]:
    if "-" in s:
        lo, hi = s.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in s.split(",")]


def spread(values: list[float]) -> tuple[float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--bounds", action="store_true")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json"))) if args.bounds else None
    seconds = args.seconds or (bench or {}).get("run_seconds", 10)
    report: dict = {"seconds": seconds, "workloads": {}}
    ok = True
    for w in args.workloads.split(","):
        runs, walls = [], []
        for seed in seeds_arg(args.seeds):
            t = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            walls.append(time.time() - t)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                return 1
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append(res)
            print(f"{w} seed {seed}: {walls[-1]:.1f} s correct={res['correct']} " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        metrics = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med, spr = spread(vals)
            metrics[name] = {"median": med, "spread": spr, "values": vals}
            if bench:
                e2e = {m["name"]: m for m in bench["end_to_end"]}
                if name in e2e and name != "setup_s" and spr > e2e[name]["bound"] / 3:
                    ok = False
                    print(f"  {w}/{name}: spread {spr:.4f} > bound/3 "
                          f"{e2e[name]['bound'] / 3:.4f}", file=sys.stderr)
        report["workloads"][w] = {
            "seeds": seeds_arg(args.seeds),
            "all_correct": all(r["correct"] for r in runs),
            "run_wall_s": {"median": statistics.median(walls), "max": max(walls)},
            "metrics": metrics,
        }
        for name, m in metrics.items():
            print(f"  {w:<6} {name:<14} median={m['median']:.5g} spread={m['spread']:.4f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
