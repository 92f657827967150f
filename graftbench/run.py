#!/usr/bin/env python3
"""graft benchmark: build the engine and the benchmark from source, run one
workload from a seed in a fresh JVM, and print the result.

    python3 graftbench/run.py --workload tiled_serve --seed 1 --seconds 10 --trace 0

Workloads: tiled_serve, tile_scan, ingest_serve, dedup_pipeline.
--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics of a traced run and writes its spans. --smoke runs a tiny input
size for the benchmark's own tests. The last line of standard output is
one JSON object with the keys correct, attempted, failed and metrics.

Everything the run builds or writes stays under .bench_build/ in the
checkout; the per-run record (host load, versions, failures, per-kind
latencies) is kept in .bench_build/runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("tiled_serve", "tile_scan", "ingest_serve", "dedup_pipeline")

# Spark on JDK 17 needs these when a session is created outside
# spark-submit (the same list the engine's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

BUILD_INPUTS = ["build.sbt", os.path.join("project", "build.properties"),
                os.path.join("src", "main"),
                os.path.join("graftbench", "build.sbt"),
                os.path.join("graftbench", "project", "build.properties"),
                os.path.join("graftbench", "src")]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark (sbt source dependency on the
    parent build) once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building engine and benchmark (sbt) ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().split()[:3]
    except OSError:
        return None


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    for rel in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, rel)):
            log(f"engine sources not found: {rel} is missing from the checkout")
            return 2
    classpath = build()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    host = {"loadavg_before": loadavg(), "nproc": os.cpu_count(), "git_sha": git_sha(),
            "args": vars(args)}

    # a fixed heap, and as many GC threads as the session's two task
    # threads: a collection that waits on a thread descheduled by another
    # tenant stalls every operation
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
           "-XX:-UsePerfData", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    if args.smoke:
        cmd.append("--smoke")
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=170)
    except subprocess.TimeoutExpired:
        log("run timed out")
        return 1
    host["loadavg_after"] = loadavg()
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        log(f"run failed (exit {proc.returncode})")
        return 1
    result = json.loads(lines[-1])

    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(work, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")) as fh:
        record = json.load(fh)
    record["host"] = host
    with open(os.path.join(runs, tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    spans = os.path.join(work, "runs", f"{args.workload}-seed{args.seed}-spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(runs, tag + "-spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    log(f"host load {host['loadavg_before']} -> {host['loadavg_after']}, nproc {host['nproc']}, "
        f"{record['jvm']['samples']} samples; record in {os.path.relpath(runs, ROOT)}/{tag}.json")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
