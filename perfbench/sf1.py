#!/usr/bin/env python3
"""Build the sf1 inputs: a generated sf0.1 base scaled 10x by the
repository's unmodified `scripts/scale_gen.py`.

Usage: python3 perfbench/sf1.py --seed N

The output is `perfbench/.work/data/sf1-seed<N>`, which git ignores.
It is verified by row count (events 1,000,000, documents 50,000,
embeddings 20,000) and marked verified; a verified copy is reused as is.
Prints the directory. This is input preparation, so its time is not
part of any run's set-up time.
"""
import argparse
import os
import shutil
import subprocess
import sys

import pyarrow.dataset as ds

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED_ROWS = {"events": 1_000_000, "documents": 50_000, "embeddings": 20_000}


def rows(d, table):
    return ds.dataset(os.path.join(d, f"{table}.parquet"), format="parquet").count_rows()


def sf1(seed):
    out = os.path.join(HERE, ".work", "data", f"sf1-seed{seed}")
    marker = os.path.join(out, ".verified")
    if os.path.exists(marker):
        return out
    base = out + ".base"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(base, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), "--sf", "0.1",
                    "--seed", str(seed), "--out", base], check=True)
    subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "scale_gen.py"),
                    base, out, "10"], check=True, stdout=subprocess.DEVNULL)
    shutil.rmtree(base)
    got = {t: rows(out, t) for t in EXPECTED_ROWS}
    if got != EXPECTED_ROWS:
        sys.exit(f"sf1: row counts {got} differ from {EXPECTED_ROWS}")
    open(marker, "w").close()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    print(sf1(a.seed))


if __name__ == "__main__":
    main()
