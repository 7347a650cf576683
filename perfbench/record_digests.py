#!/usr/bin/env python3
"""Record the manifest digest of every workload for a range of seeds.

    python3 perfbench/record_digests.py --seeds 0-49

Each manifest must first pass the DuckDB oracle's per-polygon totals; its
digest is then stored in perfbench/digests.json, which run.py checks every
later job against.  Re-record only when the benchmark's inputs change, never
to make a changed engine pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run  # perfbench/run.py: box sizing and the Spark session helpers

import oracle
import workloads


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--seeds", default="0-49", help="inclusive range, e.g. 0-49")
    args = p.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))

    hw = run.box()
    run.spark_env()
    digests = {}
    if os.path.exists(oracle.DIGESTS_PATH):
        with open(oracle.DIGESTS_PATH) as fh:
            digests = json.load(fh)
    spark = run.start_spark(hw)
    try:
        for work in workloads.WORKLOADS.values():
            for seed in range(lo, hi + 1):
                input_dir = workloads.materialize(work, seed, os.path.join(run.WORK_DIR, "record"))
                layers = workloads.layers()
                totals = oracle.polygon_totals(input_dir, layers, hw["nproc"])
                rows = [r.asDict() for r in workloads.manifest(spark, input_dir, work, layers).collect()]
                got = oracle.manifest_totals(rows)
                if got != totals:
                    print(f"{work.name} seed {seed}: totals {got} != oracle {totals}", file=sys.stderr)
                    return 1
                digests[f"{work.name}/{workloads.N_ROWS}/{seed}"] = oracle.manifest_digest(rows)
                shutil.rmtree(input_dir)
                print(f"{work.name} seed {seed}: {len(rows)} manifest rows", flush=True)
    finally:
        run.stop_spark(spark)
    with open(oracle.DIGESTS_PATH, "w") as fh:
        json.dump(dict(sorted(digests.items())), fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
