#!/usr/bin/env python3
"""Compare two lake roots: do they hold the same outputs?

    python3 tools/lake_diff.py <root_a> <root_b>

- Every JSON object (a regular `*.json` file anywhere under the root)
  must exist on both sides with the same bytes.
- Every parquet zone table (a `<zone>/<domain>_detection` directory
  with `*.parquet` files below it) must hold the same multiset of rows.
  A table with a `_log/` directory is a transaction-log table: only
  the data files its latest manifest lists are read (each entry's
  text before the first tab, under `data/`). Otherwise every parquet
  file below the table is read, with the `k=v` partition directories
  added as string columns, so a partitioned lake and a log-table lake
  compare by rows. Rows are read with pyarrow, file by file, and
  compared as sorted canonical JSON lines, so part-file names, UUIDs
  and how rows are split across files do not count.

Prints one line per difference and a summary; exits 1 if anything
differs. `tools/lake_fixtures.py` makes lakes to compare.
"""
import json
import os
import sys
from pathlib import Path
from urllib.parse import unquote

import pyarrow.parquet as pq


def walk(root):
    for d, _, files in os.walk(root):
        for f in files:
            yield os.path.relpath(os.path.join(d, f), root)


def json_objects(root):
    return {p: Path(root, p).read_bytes() for p in walk(root) if p.endswith(".json")}


def live_files(table_dir):
    """Data files of a log table's latest manifest, relative to the table."""
    log = os.path.join(table_dir, "_log")
    versions = [f for f in os.listdir(log) if f.startswith("v") and f.endswith(".txt")]
    if not versions:
        return []
    with open(os.path.join(log, max(versions))) as f:
        lines = f.read().splitlines()
    return [os.path.join("data", line.split("\t", 1)[0])
            for line in lines if line and not line.startswith("#")]


def zone_tables(root):
    """{table dir: [parquet file paths relative to the table]}."""
    tables = {}
    for p in walk(root):
        if p.endswith(".parquet"):
            parts = p.split(os.sep)
            tables.setdefault(os.path.join(*parts[:2]), []).append(os.path.join(*parts[2:]))
    return {t: live_files(os.path.join(root, t))
            if os.path.isdir(os.path.join(root, t, "_log")) else files
            for t, files in tables.items()}


def rows(root, table, files):
    out = []
    for f in files:
        part = dict(unquote(seg).split("=", 1)
                    for seg in os.path.dirname(f).split(os.sep) if "=" in seg)
        for r in pq.read_table(os.path.join(root, table, f)).to_pylist():
            r.update(part)
            out.append(json.dumps(r, sort_keys=True, default=str))
    return sorted(out)


def diff(a, b):
    problems = []
    ja, jb = json_objects(a), json_objects(b)
    for p in sorted(ja.keys() | jb.keys()):
        if p not in ja or p not in jb:
            problems.append("json %s: only in %s" % (p, a if p in ja else b))
        elif ja[p] != jb[p]:
            problems.append("json %s: bytes differ (%d vs %d bytes)" % (p, len(ja[p]), len(jb[p])))
    ta, tb = zone_tables(a), zone_tables(b)
    for t in sorted(ta.keys() | tb.keys()):
        if t not in ta or t not in tb:
            problems.append("table %s: only in %s" % (t, a if t in ta else b))
            continue
        ra, rb = rows(a, t, ta[t]), rows(b, t, tb[t])
        if ra != rb:
            in_b = set(rb)
            only_a = len([r for r in ra if r not in in_b])
            problems.append("table %s: rows differ (%d vs %d rows, %d only in the first)"
                            % (t, len(ra), len(rb), only_a))
    return problems, len(ja | jb), len(ta | tb)


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    problems, n_json, n_tables = diff(argv[1], argv[2])
    for p in problems:
        print(p)
    print("%s: %d JSON objects, %d zone tables, %d differences"
          % ("identical" if not problems else "DIFFERENT", n_json, n_tables, len(problems)))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
