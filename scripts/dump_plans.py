#!/usr/bin/env python3
"""Dump `.explain("formatted")` for benched queries into plans/r<N>/.

Usage: PYTHONPATH=. python scripts/dump_plans.py --round N <suffix> [query ...]
Writes plans/r<N>/<query>_<suffix>.txt (suffix: before/after).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_bio_functions_spark.session import get_or_create_session

import __spark_entry__ as entrymod
from bench import BENCH_QUERIES

def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("suffix")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    names = args.queries or BENCH_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(root, "plans", f"r{args.round}")
    os.makedirs(outdir, exist_ok=True)
    spark = get_or_create_session(app_name="plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in names:
        if name not in qs:
            print("skip", name)
            continue
        df = qs[name](spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        with open(os.path.join(outdir, f"{name}_{args.suffix}.txt"), "w") as f:
            f.write(txt)
        print("wrote", name)

if __name__ == "__main__":
    main()
