#!/usr/bin/env python3
"""The benchmark's deterministic counts repeat exactly.

Runs each workload twice, traced, with the same seed and asserts that every
count below reads the same in both runs: job counts per commit, fold and
query, files written per commit and opened per lookup, view commits per
round, rows in and committed, and the useful-work ratio. It also asserts
that in each run the module self times cover the traced calls' wall
within 10%.

Usage, from the root of a checkout: python3 perfbench/test_counts.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEED = 3
COUNTS = {
    "ingest_bulk": ["cdc.rows_in", "cdc.rows_committed", "cdc.useful_ratio",
                    "cdc.dedup_state_rows", "stream.triggers_per_drain"],
    "trickle_rw": ["spark.jobs_per_commit", "spark.jobs_per_fold",
                   "lake.files_written_per_commit", "lake.files_per_lookup",
                   "lake.files_per_lookup_total", "lake.live_files", "lake.compactions",
                   "lake.fold_commits"],
    "query_suite": ["spark.jobs_per_query"],
}


def traced_run(workload):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(SEED), "--seconds", "8", "--trace", "1"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    result = json.loads(out.stdout.splitlines()[-1])
    assert out.returncode == 0 and result["correct"], f"{workload}: run failed"
    return result["metrics"]


def main():
    failures = 0
    for w in sys.argv[1:] or list(COUNTS):
        a, b = traced_run(w), traced_run(w)
        for name in COUNTS[w]:
            x, y = a[name]["value"], b[name]["value"]
            ok = x == y and x != 0
            failures += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {w} {name}: {x} / {y}")
        cov = [r["trace.coverage"]["value"] for r in (a, b)]
        ok = all(0.9 <= c <= 1.0 for c in cov)
        failures += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {w} trace.coverage: {cov[0]} / {cov[1]}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
