#!/usr/bin/env python3
"""The benchmark's own test: every workload (those of BENCHMARK.json and the
opt-in ones) and every check at a tiny input size, untraced and traced.

    python3 graftbench/smoke_test.py

It fails if a run exits non-zero, if the last line of its output is not the
result object, if an operation fails its check, or if a metric named in
BENCHMARK.json is missing.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = []
    for name in WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                  text=True, timeout=900)
            tag = f"{name} trace={trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                bad.append(f"{tag}: exit {proc.returncode}")
                continue
            r = json.loads(lines[-1])
            if sorted(r) != ["attempted", "correct", "failed", "metrics"]:
                bad.append(f"{tag}: keys {sorted(r)}")
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                bad.append(f"{tag}: correct={r['correct']} failed={r['failed']}")
            missing = [m["name"] for m in spec[group] if m["name"] not in r["metrics"]]
            if missing:
                bad.append(f"{tag}: missing {missing}")
            print(f"{tag}: attempted {r['attempted']}, failed {r['failed']}", flush=True)
    for b in bad:
        print("FAIL", b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
