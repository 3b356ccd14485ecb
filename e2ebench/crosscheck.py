#!/usr/bin/env python3
"""Cross-checks e2ebench/digests.json against the program's DuckDB oracle.

Run from the root of a checkout, naming the directory of the program's
graded sf0.1 test data (all ten tables):

    python3 e2ebench/crosscheck.py <sf0.1 dir>

It checks that the tables under e2ebench/data/sf0.1 are byte-identical to
that directory's, writes each catalog query's Spark result on them, compares
it with the query's oracle SQL run by DuckDB through `tools/diffcheck.py`
(which registers all ten tables), and checks that the row counts in
digests.json equal the oracle's. Needs the `duckdb`, `pyarrow` and `pandas`
Python modules.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    if len(sys.argv) != 2:
        sys.exit("usage: crosscheck.py <graded sf0.1 dir>")
    graded = sys.argv[1]
    data = run.dataset("sf0.1")
    for t in sorted(os.listdir(data)):
        if not filecmp.cmp(os.path.join(data, t), os.path.join(graded, t), shallow=False):
            sys.exit(f"{t} differs from {graded}/{t}")
    classes = run.build()
    out = os.path.join(run.BUILD, "oracle-export")
    tmp = os.path.join(run.BUILD, "oracle-tmp")
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    rc = run.run_logged(run.java_cmd(classes, tmp, ["--oracle-export", out, "--data", data]),
                        run.ROOT, dict(os.environ), os.path.join(run.BUILD, "oracle.log"), 1200)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        run.fail(f"oracle export failed (exit {rc})")
    diff = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "diffcheck.py"), graded, out],
                          capture_output=True, text=True)
    print(diff.stdout.strip())
    with open(os.path.join(run.HERE, "digests.json")) as f:
        expected = json.load(f)["sf0.1"]
    with open(os.path.join(out, "oracle_sql.json")) as f:
        names = list(json.load(f))
    bad = [l for l in diff.stdout.splitlines() if l.startswith("FAIL")]
    for name in names:
        rows = pq.read_table(os.path.join(out, name)).num_rows
        want = expected[name.split("_")[0]]["rows"]
        print(f"{name}: spark rows {rows}, digests.json rows {want}")
        if rows != want:
            bad.append(name)
    if bad or diff.returncode != 0:
        sys.exit(f"cross-check failed: {bad}")
    print("cross-check passed")


if __name__ == "__main__":
    main()
