#!/usr/bin/env python3
"""Compare two directories of plan dumps (graft.BenchExtra's explainDir).

Usage: python3 scripts/plan_diff.py <dirA> <dirB>

Each `*.txt` file present in either directory is read from both, with
run-specific tokens masked (expression ids `#123`, `plan_id=7`, UUIDs,
temporary paths, AQE statistics, lambda class names and variable ids,
RDD ids, source line numbers), and the queries whose masked plans differ
are printed with a unified diff. The last line counts identical, changed
and one-sided files. Exit status 1 when any file differs or is missing
on one side.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "UUID"),
    (re.compile(r"(file:)?/tmp/[^\s,\]\)]*"), "TMP"),
    (re.compile(r"(subquery|_gen_alias_|exists)(\d+)"), r"\1N"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(...)"),
    (re.compile(r"\$Lambda\$?[\d/x0-9a-f]*@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(lambda [a-z]+)_\d+"), r"\1_N"),
    (re.compile(r"file:/[a-z]{0,3}\.\.\."), "TMP"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
]


def masked(path):
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8", errors="replace") as f:
        text = f.read()
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text.splitlines(keepends=True)


def main(a, b):
    names = sorted({n for d in (a, b) for n in os.listdir(d) if n.endswith(".txt")})
    same, changed, missing = 0, [], []
    for n in names:
        pa, pb = masked(os.path.join(a, n)), masked(os.path.join(b, n))
        if pa is None or pb is None:
            missing.append(n)
            print(f"MISSING {n}: only in {b if pa is None else a}")
        elif pa == pb:
            same += 1
        else:
            changed.append(n)
            print(f"=== {n}")
            sys.stdout.writelines(difflib.unified_diff(pa, pb, f"{a}/{n}", f"{b}/{n}", n=1))
    print(f"{same} identical, {len(changed)} changed, {len(missing)} missing"
          + (f": changed {', '.join(changed)}" if changed else ""))
    return 1 if changed or missing else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
