#!/usr/bin/env python3
"""Run one perfbench workload (or all of them) against the checkout it sits in.

    python3 perfbench/run.py --workload stream_join --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness and the
repository's main sources with sbt (perfbench/build.sbt) and caches the
classpath under .bench_build/; later runs reuse it until a source changes.
The JVM writes a full result artifact to .bench_build/perfbench/results/;
this script prints a report of every metric by name and unit, and as its
last stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"} with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). A workload's `reports` table in spec.json
names the metric of its own that stands for each generic end-to-end name
(latency_p50_ms is join latency on stream_join, for example); a per-layer
metric of a layer that does not run on the workload reads 0.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("SPARK_HOME is unset and spark-submit is not on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = sources_stamp()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    sbt = shutil.which("sbt") or fail("sbt is not on PATH")
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        fail(f"sbt build failed (exit {proc.returncode})")
    with open(os.path.join(HERE, "target", "classpath.txt")) as f:
        cp = f.read().strip()
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    # results of the previous build are not comparable with this one's
    shutil.rmtree(os.path.join(OUT, "results"), ignore_errors=True)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def run_jvm(cp, spec, workload, seed, seconds, trace):
    work = os.path.join(OUT, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{workload}-seed{seed}-trace{trace}.json")
    if os.path.exists(out):
        os.remove(out)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else (shutil.which("java") or fail("java is not on PATH"))
    cmd = [java, *spec["jvm_flags"], f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--spec", os.path.join(HERE, "spec.json"),
           "--work", work, "--out", out]
    # The JVM's stdout goes to stderr: this script owns the last stdout line.
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = -1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        fail(f"workload {workload} failed (exit {rc})")
    with open(out) as f:
        return json.load(f)


def select(res, spec, names, default=None):
    """The values of BENCHMARK.json metrics `names` in one run's metrics."""
    alias = spec["workloads"][res["workload"]].get("reports", {})
    got = res["metrics"]
    out = {}
    for n in names:
        v = got.get(alias.get(n, n), default)
        if v is None:
            fail(f"workload {res['workload']} reports no {alias.get(n, n)}")
        out[n] = v
    return out


def report(res, bench, spec, trace):
    """Human-readable report: every metric by name and unit."""
    units = {k: v["unit"] for k, v in spec["metrics"].items() if "unit" in v}
    units.update({m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]})
    w = res["workload"]
    print(f"== {w} seed={res['seed']} seconds={res['seconds']} trace={trace} "
          f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    for k, v in sorted(res["metrics"].items()):
        print(f"  {k:34s} {v:16.4f} {units.get(k, '')}")
    if trace:
        base = os.path.join(OUT, "results", f"{w}-seed{res['seed']}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)
            e2e = [m["name"] for m in bench["end_to_end"]]
            was, now = select(untraced, spec, e2e), select(res, spec, e2e)
            print("  tracing overhead (traced - untraced, same seed):")
            for k in e2e:
                print(f"    {k:26s} {now[k] - was[k]:+12.4f} {units[k]}")
    for n in res["notes"]:
        print(f"  note: {n}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: build.sbt and src/main/scala/graft are missing")
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    chosen = names if a.workload == "all" else [a.workload]
    if any(w not in names for w in chosen):
        fail(f"unknown workload {a.workload}; choose one of {', '.join(names)} or all")

    cp = build()
    key = "per_layer" if a.trace else "end_to_end"
    results = []
    for w in chosen:
        res = run_jvm(cp, spec, w, a.seed, a.seconds, a.trace)
        report(res, bench, spec, a.trace)
        got = select(res, spec, [m["name"] for m in bench[key]], 0.0 if a.trace else None)
        metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in bench[key]}
        results.append((w, res, metrics))
    if len(results) == 1:
        metrics = results[0][2]
    else:
        metrics = {f"{w}.{k}": v for w, _, m in results for k, v in m.items()}
    print(json.dumps({
        "correct": all(r["correct"] for _, r, _ in results),
        "attempted": sum(r["attempted"] for _, r, _ in results),
        "failed": sum(r["failed"] for _, r, _ in results),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
