#!/usr/bin/env python3
"""Traced-run report: per-layer metrics of each workload next to its
untraced end-to-end metrics and the tracing overhead.

    python3 perfbench/report.py --seed 9001 [--out perfbench/results/traced-report.md]

For each workload it runs run.py with --trace 0 and with --trace 1 on the
same seed. Tracing overhead is the traced end-to-end value minus the
untraced one.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"{workload} trace={trace}: exit {p.returncode}")
    return p.stdout.splitlines()


def rows(lines, label):
    """(name, value, unit, samples) of the report lines with this label."""
    out = []
    for l in lines:
        parts = l.split()
        if l.strip().startswith(label) and len(parts) >= len(label.split()) + 2:
            rest = parts[len(label.split()):]
            out.append((rest[0], rest[1], rest[2] if len(rest) > 2 else "",
                        rest[3] if len(rest) > 3 else ""))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    md = [f"# Traced-run report (seed {args.seed}, {spec['run_seconds']} s per run)", ""]
    for w in spec["workloads"]:
        plain = run(w["name"], args.seed, spec["run_seconds"], 0)
        traced = run(w["name"], args.seed, spec["run_seconds"], 1)
        md += [f"## {w['name']}", "", f"_{w['why']}_", ""]
        md += [l for l in plain if l.startswith("# weather") or l.startswith("# corpus")]
        md += ["", "| end-to-end metric | untraced | traced | overhead | unit | n |",
               "|---|---|---|---|---|---|"]
        t = {r[0]: r for r in rows(traced, "traced end-to-end")}
        for name, value, unit, n in rows(plain, "end-to-end"):
            tv = t.get(name, (name, "n/a"))[1]
            try:
                over = f"{float(tv) - float(value):.4g}"
            except ValueError:
                over = "n/a"
            md.append(f"| {name} | {value} | {tv} | {over} | {unit} | {n} |")
        md += ["", "| per-layer metric (traced) | value | unit | n |", "|---|---|---|---|"]
        md += [f"| {n} | {v} | {u} | {k} |" for n, v, u, k in rows(traced, "layer")]
        md += ["", "| span | mean self time | unit | spans |", "|---|---|---|---|"]
        md += [f"| {n} | {v} | {u} | {k} |" for n, v, u, k in rows(traced, "span self time")]
        md.append("")
    text = "\n".join(md) + "\n"
    if args.out:
        open(args.out, "w").write(text)
    print(text)


if __name__ == "__main__":
    main()
