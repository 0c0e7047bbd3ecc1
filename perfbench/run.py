#!/usr/bin/env python3
"""Run one benchmark workload against graft, built from this checkout.

    python3 perfbench/run.py --workload serve|ingest|curate --seed N \
        --seconds S --trace 0|1 [--scale full|tiny]

Builds the benchmark (perfbench/build.sbt compiles graft's sources with the
benchmark's own in perfbench/src) when the sources changed since the last
build, runs perfbench.Main in a fresh JVM, prints a report and, as the last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end list; with --trace 1 its
per_layer list. Exits non-zero on a build or run failure or any wrong
answer.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
JAR = os.path.join(HERE, "target", "perfbench.jar")
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(HERE, "work")
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    for top in (LIB_SRC, os.path.join(HERE, "src", "main", "scala")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile and package the benchmark with graft's sources, then record
    an application class-data archive from one tiny run of every workload.
    Runs map the archive instead of loading and verifying Spark's classes
    afresh, which otherwise takes several seconds of every run.
    """
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    for f in (STAMP, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = opts + f" -Dsbt.server.autostart=false -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "package"], cwd=HERE, env=env,
                             stdout=out, stderr=subprocess.STDOUT, timeout=850)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log: {log})", 3)
    rc, _, text = launch(["--workload", "serve,ingest,curate", "--seed", "1", "--seconds", "1",
                          "--trace", "0", "--scale", "tiny"],
                         [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], "archive")
    if rc != 0 or not os.path.exists(ARCHIVE):
        sys.stderr.write(text[-4000:])
        fail(f"class archive run exited with {rc}", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def classpath():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("SPARK_HOME must point at a Spark 4.1 distribution")
    # listed explicitly, in a fixed order: the class archive is only used
    # when the classpath matches the one it was recorded with
    return os.pathsep.join([JAR] + [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                                    if j.endswith(".jar")])


def launch(main_args, jvm_args, name):
    """Run perfbench.Main in a fresh JVM with its own work directory under
    perfbench/work. Returns (exit code, the result record or None, log).
    """
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    cmd = ["java"] + jvm_args + ["-Xmx3g", "-XX:-UsePerfData",
                                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath(), "perfbench.Main"] + main_args + ["--work", work, "--out", out]
    log = os.path.join(work, "run.log")
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    text = open(log).read()
    result = json.load(open(out)) if rc == 0 and os.path.exists(out) else None
    spans = os.path.join(work, "spans.jsonl")
    if result is not None and os.path.exists(spans):
        keep = os.path.join(HERE, "out")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(spans, os.path.join(keep, f"spans-{name}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return rc, result, text


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_benchmark(args, sha, digest):
    jvm = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    rc, result, text = launch(
        ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", str(args.trace), "--scale", args.scale,
         "--sha", sha if sha != "unknown" else "src-" + digest[:12]],
        jvm, f"{args.workload}-{args.seed}")
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if result is None:
        sys.stderr.write(text[-6000:])
        fail(f"perfbench.Main exited with {rc}", 1)
    return result


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def report(r, layer_names):
    print(f"# workload={r['workload']} seed={r['seed']} seconds={r['seconds']} "
          f"trace={int(r['trace'])} scale={r['scale']}")
    w = r["weather"]
    print(f"# weather: io_canary {w['io_canary_before_s']:.3f}s -> "
          f"{w['io_canary_after_s']:.3f}s, nproc={w['nproc']} spark_cpus={w['spark_cpus']} "
          f"heap={w['heap_max_mb']:.0f}MB sha={w['git_sha']} seed={w['seed']}")
    print(f"# corpus: {json.dumps(r['corpus'], sort_keys=True)}")
    print(f"# setup parts (s): {json.dumps(r['setup_parts_s'])}")
    label = "traced end-to-end" if r["trace"] else "end-to-end"
    for m in r["named"]:
        note = f" [{m['note']}]" if m["note"] else ""
        print(f"{label:>18}  {m['name']:<28} {fmt(m['value']):>12} {m['unit']:<6} "
              f"n={m['samples']}{note}")
    for name, m in sorted(r["e2e"].items()):
        print(f"{'contract':>18}  {name:<28} {fmt(m['value']):>12} {m['unit']:<6} "
              f"n={m['samples']}")
    if r["trace"]:
        for name in layer_names:
            m = r["layer"].get(name)
            if m is None:
                print(f"{'layer':>18}  {name:<28} {'n/a':>12}")
            else:
                print(f"{'layer':>18}  {name:<28} {fmt(m['value']):>12} {m['unit']:<6} "
                      f"n={m['samples']}")
        for name, s in sorted(r["self_ms"].items()):
            print(f"{'span self time':>18}  {name:<28} {s['mean_self_ms']:>12.3f} ms     "
                  f"n={s['spans']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")) or not os.path.exists(spec_path):
        fail("graft's sources (src/main/scala) and BENCHMARK.json must sit beside perfbench/")
    spec = json.load(open(spec_path))
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload!r}; expected one of {names}")

    if os.path.isdir(WORK):  # left by a killed run; smoke tests keep tmp* dirs
        for stale in os.listdir(WORK):
            if not stale.startswith("tmp"):
                shutil.rmtree(os.path.join(WORK, stale), ignore_errors=True)
    digest = source_hash()
    build(digest)
    r = run_benchmark(args, git_sha(), digest)
    report(r, [m["name"] for m in spec["per_layer"]])

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if args.trace:
            got = r["layer"].get(m["name"])
            value = 0.0 if got is None else got["value"]  # n/a: the layer did no work
        else:
            value = r["e2e"][m["name"]]["value"]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    correct = r["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
