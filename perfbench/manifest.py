#!/usr/bin/env python3
"""Regenerate and validate the `lanes` workload's manifest.

    python3 perfbench/manifest.py

Records the row count and digest of every 40th lane of the sorted
SparkEntry.queries inventory on perfbench/data/sf0.01 into
perfbench/lanes_manifest.json, then dumps the same lanes with graft.Verify and
compares them with the DuckDB oracle (tools/local_verify.py). Exits non-zero
when any lane fails the oracle. Needs duckdb and pandas for the comparison.
"""
import json
import os
import shutil
import subprocess
import sys

import run


def main():
    cp = run.build()
    work = os.path.join(run.BUILD, "manifest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    subprocess.run(run.java(cp, work, "perfbench.Main", [
        "--work", work, "--data", run.DATA,
        "--write-manifest", run.MANIFEST]), check=True, cwd=run.ROOT)
    with open(run.MANIFEST) as f:
        lanes = list(json.load(f)["lanes"])
    dump = os.path.join(work, "verify")
    subprocess.run(run.java(cp, work, "graft.Verify", [run.DATA, dump, ",".join(lanes)]),
                   check=True, cwd=run.ROOT)
    rc = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "local_verify.py"),
                         run.DATA, dump], cwd=run.ROOT).returncode
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
