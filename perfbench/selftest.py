#!/usr/bin/env python3
"""Exact-count self-test of the graft benchmark.

    python3 perfbench/selftest.py [--record]

Run it from the repository root. For each workload it makes two traced runs
with different seeds and checks that the counts below are identical in both
runs and equal to the reference in perfbench/counts.json. These counts do
not depend on timing, so any difference means the engine, the harness or the
data did different work. Both runs must also pass the output check.
--record writes the counts of the first run as the new reference instead.

Exit code: 0 when every count matches.
"""
import json
import os
import subprocess
import sys

from run import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = os.path.join(HERE, "counts.json")
EXACT = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks", "planner.exchanges",
         "planner.scans", "TempTables.builds", "Tables.schema_jobs"]
SEEDS = (1, 2)
SECONDS = 8


def traced_run(workload, seed):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "1"],
                         capture_output=True, text=True, check=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit(f"{workload} seed {seed}: output check failed: {out.strip().splitlines()[-2]}")
    return {k: res["metrics"][k]["value"] for k in EXACT}


def main():
    record = "--record" in sys.argv[1:]
    ref = {}
    if not record:
        with open(COUNTS) as f:
            ref = json.load(f)
    got, bad = {}, []
    for w in WORKLOADS:
        runs = [traced_run(w, s) for s in SEEDS]
        got[w] = runs[0]
        for k in EXACT:
            seen = [r[k] for r in runs]
            want = ref.get(w, {}).get(k) if not record else seen[0]
            ok = len(set(seen)) == 1 and seen[0] == want
            print(f"{'OK  ' if ok else 'FAIL'} {w:14s} {k:22s} runs={seen} reference={want}")
            if not ok:
                bad.append(f"{w}:{k}")
    if record:
        with open(COUNTS, "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
            f.write("\n")
    print(f"failures: {bad}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
