#!/usr/bin/env python3
"""Count repeatability self-check: two traced runs of one workload and seed
on one commit; every count the traced round records must repeat exactly,
op by op.

Usage: python3 perfbench/selfcheck.py [--seed N] [workload ...]
Prints one line per count that differs, and exits 1 if any does.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

COUNTS = [
    "queries.build_jobs", "plans.extent_pushed", "exec.jobs", "exec.stages", "exec.tasks",
    "ops.join_rows_out", "ops.result_rows", "sources.files_read", "sources.partitions_read",
    "sources.bytes_read", "sources.rows_scanned", "sources.files_written",
    "sources.bytes_written", "shuffle.records_written", "shuffle.bytes_written",
]
INGEST = ["stored_files", "stored_dirs", "stored_bytes"]


def traced_ops(workload, seed):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "30", "--trace", "1"]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(ROOT, "localdata", "perfbench", "traces", f"{workload}-s{seed}", "result.json")
    with open(path) as f:
        return [o for o in json.load(f)["ops"] if o["round"] == "t"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*", default=["sf01_mix", "spatial_window"])
    args = ap.parse_args()
    diffs = 0
    for w in args.workloads:
        a, b = traced_ops(w, args.seed), traced_ops(w, args.seed)
        n = 0
        for x, y in zip(a, b):
            keys = [("trace", k) for k in COUNTS] + [(None, k) for k in INGEST if k in x]
            for group, k in keys:
                vx = x[group][k] if group else x[k]
                vy = y[group][k] if group else y[k]
                n += 1
                if vx != vy:
                    diffs += 1
                    print(f"{w} {x['id']} {x['name']} {k}: {vx} vs {vy}")
        print(f"{w}: {n} counts compared over {len(a)} ops")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
