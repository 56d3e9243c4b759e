#!/usr/bin/env python3
"""Check that the ledger's counts repeat exactly across two traced runs
with the same seed.

    python3 perfbench/repeat.py --seed 1 [--workload <name> ...] \
        [--keep perfbench/ledger]

Runs `run.py --trace 1` twice per workload and compares `spark.jobs`,
`queries.q8_targeted_build.jobs`, `dedup.store_mb` and
`bytes_written_per_input_byte` (of the traced operations), then lists
every other per-layer count (jobs, tasks, calls, rows) that differed.
Exits 1 if a required count differs. `--keep DIR` keeps the first run's
ledger as DIR/<workload>.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ["spark.jobs", "queries.q8_targeted_build.jobs",
            "dedup.store_mb", "bytes_written_per_input_byte"]
COUNTS = (".jobs", ".tasks", ".calls", ".rows_out", ".stages")


def traced(workload, seed, path):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", workload, "--seed", str(seed),
                    "--trace", "1", "--ledger", path],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(path) as f:
        d = json.load(f)
    return {**d["metrics"], "bytes_written_per_input_byte":
            d["end_to_end_of_this_run"]["bytes_written_per_input_byte"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", nargs="*",
                    default=["etl_captions", "shard_loop", "query_mix"])
    ap.add_argument("--keep", help="directory for the first run's ledgers")
    a = ap.parse_args()
    ok = True
    scratch = os.path.join(ROOT, ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        for w in a.workload:
            r1 = traced(w, a.seed, os.path.join(d, f"{w}.1.json"))
            r2 = traced(w, a.seed, os.path.join(d, f"{w}.2.json"))
            if a.keep:
                shutil.copy(os.path.join(d, f"{w}.1.json"),
                            os.path.join(a.keep, f"{w}.json"))
            for k in REQUIRED:
                same = r1[k] == r2[k]
                ok &= same
                print(f"{w:13s} {k:34s} {r1[k]:>14.6g} {r2[k]:>14.6g} "
                      f"{'same' if same else 'DIFFERENT'}")
            for k in sorted(r1):
                if k not in REQUIRED and k.endswith(COUNTS) and r1[k] != r2[k]:
                    print(f"{w:13s} {k:34s} {r1[k]:>14.6g} {r2[k]:>14.6g} "
                          "different (not required)")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
