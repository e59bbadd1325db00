#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each metric's median and
spread (interquartile range / median, quartiles as `statistics.quantiles(
values, n=4)` gives them), the acceptance rule for run-to-run stability.

    python3 perfbench/spread.py --workloads scene_ndvi,query_mix --seeds 1-10 \
        --seconds 10 [--trace 1] [--out perfbench/results/name.json]

Run from the repository root. Each run is one `run.py` invocation.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    detail = os.path.join(HERE, ".work", "run", "result.json")
    if res is not None and os.path.isfile(detail):
        with open(detail) as f:
            res["ops"] = json.load(f).get("ops", [])
    return res, wall, p.returncode


def summarize(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "spread": (q3 - q1) / med if med else 0.0,
            "min": min(values), "max": max(values), "n": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    report = {}
    for w in args.workloads.split(","):
        per_metric, walls, bad, ops = {}, [], [], []
        for s in seeds(args.seeds):
            res, wall, code = run(w, s, args.seconds, args.trace)
            walls.append(wall)
            if res is None or not res["correct"]:
                bad.append({"seed": s, "exit": code, "result": res})
            if res is None:
                continue
            ops.append(res.get("ops", []))
            for name, m in res["metrics"].items():
                per_metric.setdefault(name, {"unit": m["unit"], "values": []})["values"].append(m["value"])
            print(f"{w} seed {s}: {wall:.1f} s, correct={res['correct']}, "
                  f"attempted={res['attempted']}, failed={res['failed']}", file=sys.stderr)
        report[w] = {
            "runs": len(walls), "run_wall_s": summarize(walls), "incorrect_runs": bad,
            "ops": ops,
            "metrics": {k: {"unit": v["unit"], **summarize(v["values"]), "values": v["values"]}
                        for k, v in per_metric.items()}}
        print(f"\n== {w}: {len(walls)} runs, median wall {statistics.median(walls):.1f} s, "
              f"{len(bad)} incorrect")
        for k, v in report[w]["metrics"].items():
            print(f"  {k:32s} {v['median']:12.4f} {v['unit']:7s} spread {v['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"seconds": args.seconds, "trace": args.trace, "seeds": args.seeds,
                       "workloads": report}, f, indent=1)


if __name__ == "__main__":
    main()
