#!/usr/bin/env python3
"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--trace 0] \
        [--save perfbench/results/serve-seeds1-10.jsonl]

The spread of a metric is the distance between the first and third quartile
of its values (statistics.quantiles(values, n=4)) as a share of their median.
For each end-to-end metric it is compared with a third of the metric's
bound in BENCHMARK.json. Each run's result line is saved with --save.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf"), statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,7,9")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--save")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for seed in seeds_of(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(spec["run_seconds"]),
                            "--trace", str(args.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-3000:])
            sys.exit(f"seed {seed}: exit {p.returncode}")
        result = json.loads(lines[-1])
        result["seed"] = seed
        result["wall_s"] = round(time.time() - t0, 1)
        runs.append(result)
        print(f"seed {seed}: {result['wall_s']}s "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        if args.save:
            with open(args.save, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, **result}) + "\n")
    if len(runs) < 2:
        return
    ok = True
    for name in runs[0]["metrics"]:
        s, med = spread([r["metrics"][name]["value"] for r in runs])
        bound = bounds.get(name)
        verdict = ""
        if bound is not None and not args.trace:
            steady = name == "setup_s" or s < bound / 3
            ok &= steady
            verdict = f"bound {bound}: {'ok' if steady else 'TOO WIDE'}"
        print(f"{name:<32} median {med:<12.5g} spread {s:.4f}  {verdict}")
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
