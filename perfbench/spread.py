#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py [--workloads movie_etl ann_serve]
                                [--seeds 1-10] [--trace 0] [--out FILE]

For each workload and seed, runs perfbench/run.py with the run length
from BENCHMARK.json and keeps its result. Per metric it prints the
median, the quartiles (statistics.quantiles, n=4) and the spread
(q3 - q1) / median, flagging an end-to-end spread that reaches a third
of the metric's bound. --out writes the same figures, every run's box
line and the raw values as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: rc={out.returncode}")
    box = next((l for l in lines if l.get("perfbench") == "box"), None)
    return lines[-1], box


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    report = {"run_seconds": bench["run_seconds"], "trace": args.trace, "workloads": {}}
    worst = 0.0
    for w in args.workloads:
        values, boxes = {}, []
        for s in seeds(args.seeds):
            result, box = run(w, s, bench["run_seconds"], args.trace)
            if not result["correct"] or result["failed"]:
                raise SystemExit(f"{w} seed {s}: output checks failed")
            boxes.append(box)
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed {s}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        figures = {}
        for name, xs in values.items():
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            figures[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": xs}
            bound = bounds.get(name)
            flag = ""
            if bound and spread >= bound / 3:
                flag = f"  <-- spread reaches a third of bound {bound}"
                worst = max(worst, spread / bound)
            print(f"  {w:12s} {name:24s} median {med:12.4f}  q1 {q1:12.4f}  "
                  f"q3 {q3:12.4f}  spread {spread:7.2%}{flag}")
        report["workloads"][w] = {"metrics": figures, "boxes": boxes}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    sys.exit(1 if worst else 0)


if __name__ == "__main__":
    main()
