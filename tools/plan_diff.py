#!/usr/bin/env python3
"""Diff two directories of PlanDump output after normalisation.

    python3 tools/plan_diff.py <before_dir> <after_dir>
    python3 tools/plan_diff.py <dir>    # <query>_before.txt vs <query>_after.txt

PlanDump writes <query>_<suffix>.txt; files pair up by query name (the
part before the last "_<suffix>"). Before diffing, each plan drops what
differs between two runs of the same code: expression, plan and RDD ids,
the source line an RDD was made at, scratch and checkout paths
(`file:/.../target/tmp/p<pid>/tx_x_3/...`), file UUIDs, per-process
scratch counters and the numbers of lambda variables (`x_62`). Prints one unified diff per
query whose normalised plans differ, then a summary line; exits 1 if any
differ or a query is missing on one side.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(\w+RDD)\[\d+\] at (\w+) at ([\w.]+):\d+"), r"\1[N] at \2 at \3:N"),
    (re.compile(r"file:\S*?/target/tmp/p\d+/"), "<scratch>/"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "<uuid>"),
    (re.compile(r"(<scratch>/[A-Za-z0-9_]+?)_\d+\b"), r"\1_N"),
    # lambda variables of the DataFrame API take a JVM-wide counter
    (re.compile(r"\b([xyz])_\d+#N"), r"\1_N#N"),
]


def normalise(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text.splitlines(keepends=True)


def by_query(d, suffix=""):
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(suffix + ".txt"):
            out[f[:-4].rsplit("_", 1)[0]] = os.path.join(d, f)
    return out


def main(argv):
    if len(argv) == 2:
        before, after = by_query(argv[1], "_before"), by_query(argv[1], "_after")
    elif len(argv) == 3:
        before, after = by_query(argv[1]), by_query(argv[2])
    else:
        sys.exit(__doc__)
    changed, missing = [], sorted(set(before) ^ set(after))
    for q in sorted(set(before) & set(after)):
        with open(before[q]) as a, open(after[q]) as b:
            hunk = list(difflib.unified_diff(
                normalise(a.read()), normalise(b.read()),
                before[q], after[q]))
        if hunk:
            changed.append(q)
            sys.stdout.writelines(hunk)
    for q in missing:
        print(f"missing on one side: {q}")
    print(f"{len(before)} before, {len(after)} after, "
          f"{len(changed)} differ: {' '.join(changed)}")
    return 1 if changed or missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
