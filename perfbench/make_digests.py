#!/usr/bin/env python3
"""Regenerates perfbench/digests.json, the reference every run checks against.

    python3 perfbench/make_digests.py

Run it from the repository root. It builds the harness like run.py, runs
graft.Verify over perfbench/data (every declared query, each result written
as one parquet file, plus the oracle SQL), and digests each result with the
normalization of tools/preflight.py (perfbench/digest.py):

- a query with DuckDB oracle SQL gets the digest of the oracle's answer, and
  the Spark result must match it, or nothing is written;
- a query without oracle SQL gets the digest of the Spark result of the code
  at hand ("source": "engine").

Exit code: the number of queries whose Spark result differs from the oracle.
"""
import json
import os
import shutil
import sys

import digest
import run


def main():
    cp = run.build()
    out = os.path.join(run.build_dir(), "verify")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.cpus()))
    rc = run.run_jvm(run.java_cmd(cp, tmp, "graft.Verify", [run.DATA, out]),
                     os.path.join(out, "verify.log"), 1800, env=env)
    if rc != 0:
        run.die(f"graft.Verify exited with {rc}")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    queries = sorted(d for d in os.listdir(out) if d.startswith("q_"))
    con = digest.connect(run.DATA)
    ref, bad = {}, []
    for q in queries:
        got = digest.of_parquet(con, os.path.join(out, q))
        if q in oracle:
            try:
                want = digest.of_oracle(con, oracle[q])
            except Exception as e:
                print(f"FAIL {q}: oracle: {e}")
                bad.append(q)
                continue
            if got != want:
                print(f"FAIL {q}: spark {got} != oracle {want}")
                bad.append(q)
                continue
            ref[q] = dict(want, source="oracle")
        else:
            ref[q] = dict(got, source="engine")
    with open(os.path.join(out, "verify.log")) as f:
        threw = [l.split()[1] for l in f if l.startswith("[verify] ")]
    for q in threw:
        print(f"FAIL {q}: threw in graft.Verify")
    bad += threw
    print(f"{len(ref)} digests ({sum(v['source'] == 'oracle' for v in ref.values())} oracle); "
          f"failures: {bad}")
    if not bad:
        with open(run.DIGESTS, "w") as f:
            json.dump({"data": os.path.relpath(run.DATA, run.ROOT), "queries": ref}, f,
                      indent=1, sort_keys=True)
            f.write("\n")
    sys.exit(len(bad))


if __name__ == "__main__":
    main()
