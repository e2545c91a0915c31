#!/usr/bin/env python3
"""Replay parity: the benchmark's stage-to-call tables land what
`graft.Runner` lands.

Usage: python3 perfbench/test_parity.py --data SF0.1_TABLE_DIR

Runs the three Runner stage lists the benchmark is modelled on, each in
a fresh JVM through `graft.perfbench.Job`, on the sf0.1 fixture tables,
and compares every landed relation's name and row count with the
`landed_rows` of the repository's `runner_bench.json` (one full Runner
lifecycle on the same tables). Exits 0 when all match.
"""
import argparse
import json
import os
import sys

import pyarrow.dataset as ds

import run

STAGE_LISTS = {
    "profile": ["chars", "drift", "profile", "infer", "hygiene", "generate", "monitor"],
    "tests": ["execute", "score"],
    "curate": ["curate", "index"],
}
# store_file_report counts the files under the run's own output
# directory, so it depends on which stages ran before it: 89 after the
# full lifecycle, 33 after curate,index alone.
OWN_ROWS = {"curate": {"store_file_report": 33}}
# landed by the export stage, which is in none of the stage lists
NOT_REPLAYED = {"observability_export"}
TIMEOUT_S = 1800


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    a = ap.parse_args()
    with open(os.path.join(run.ROOT, "runner_bench.json")) as fh:
        want = json.load(fh)["landed_rows"]
    classpath = run.build()
    failures, landed = [], {}
    for workload, stages in STAGE_LISTS.items():
        res, _ = run.job(classpath, os.path.abspath(a.data), stages, False, 0, TIMEOUT_S)
        for op in res["ops"]:
            if "error" in op:
                failures.append(f"{workload} {op['name']}: {op['error']}")
            elif "path" in op:
                n = ds.dataset(op["path"], format="parquet").count_rows()
                expect = OWN_ROWS.get(workload, {}).get(op["name"], want.get(op["name"]))
                landed[op["name"]] = n
                if n != expect:
                    failures.append(f"{workload} {op['name']}: rows={n}, runner_bench={expect}")
    failures += [f"{n}: in runner_bench, never landed"
                 for n in sorted(set(want) - set(landed) - NOT_REPLAYED)]
    for f in failures:
        print(f"FAIL {f}")
    print(f"parity: {len(landed)} relations, {len(failures)} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
