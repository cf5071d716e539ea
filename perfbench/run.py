#!/usr/bin/env python3
"""One run of the graft benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the repository root. On first use it builds the harness in
perfbench/harness together with the engine's sources (sbt, offline). Each
run is one JVM at local[N], N = the usable cores. The run checks every
query output it produced against perfbench/digests.json, and prints one
JSON object as the last line of stdout: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics. Workloads, metrics and
layers are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import digest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
HARNESS = os.path.join(HERE, "harness")
DATA = os.path.join(HERE, "data")
DIGESTS = os.path.join(HERE, "digests.json")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

# Workloads and metric names and units come from BENCHMARK.json.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
# A run must end within this many seconds; the build is not counted.
RUN_LIMIT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def cpus():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """Tier-1's driver heap: half of RAM in GiB, clamped to 2..8."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def source_files():
    for top in (ENGINE_SRC, os.path.join(HARNESS, "src")):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(HARNESS, "build.sbt")
    yield os.path.join(HARNESS, "project", "build.properties")


def build():
    """Compiles harness + engine when their sources changed; returns the classpath."""
    for need in (ENGINE_SRC, HARNESS, DATA):
        if not os.path.exists(need):
            die(f"missing {os.path.relpath(need, ROOT)}: run from the repository root")
    h = hashlib.sha256()
    for p in source_files():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    stamp_path = os.path.join(bdir, "build.stamp")
    cp_path = os.path.join(HARNESS, "target", "classpath.txt")
    stamp = h.hexdigest()
    if os.path.exists(cp_path) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                with open(cp_path) as c:
                    return c.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    sbt_tmp = os.path.join(bdir, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={sbt_tmp}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(bdir, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                            cwd=HARNESS, env=env, stdout=log, stderr=subprocess.STDOUT,
                            timeout=840).returncode
    if rc != 0 or not os.path.exists(cp_path):
        die(f"build failed (see {os.path.relpath(bdir, ROOT)}/build.log)")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    with open(cp_path) as c:
        return c.read()


def java_cmd(cp, tmp, main, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{driver_mem()}", "-XX:-UsePerfData", *opens, f"-Djava.io.tmpdir={tmp}",
             "-cp", cp, main]
            + [str(a) for a in args])


def run_jvm(cmd, log_path, limit_s, env=None):
    """Runs `cmd` in its own process group; kills the group at `limit_s`."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
                             cwd=ROOT, env=env)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"run exceeded {limit_s:.0f} s (see {os.path.relpath(log_path, ROOT)})")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty sample."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def check_outputs(res, out):
    """Compares every checked output with its reference digest; returns the mismatches."""
    with open(DIGESTS) as f:
        ref = json.load(f)["queries"]
    con = digest.connect(DATA)
    bad = {}
    for q in res["queries"]:
        if q in res["failed"]:
            continue
        if q not in ref:
            bad[q] = "no reference digest"
            continue
        try:
            got = digest.of_parquet(con, os.path.join(out, "check", q))
        except Exception as e:  # unreadable or missing output
            bad[q] = f"output unreadable: {e}"
            continue
        want = {k: ref[q][k] for k in ("rows", "sha256")}
        if got != want:
            bad[q] = f"digest {got} != reference {want}"
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.exists(DIGESTS):
        die("missing perfbench/digests.json (python3 perfbench/make_digests.py makes it)")
    cp = build()
    out = os.path.join(build_dir(), f"run-{a.workload}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    args = ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace,
            "--data", DATA, "--out", out, "--cpus", cpus()]
    t_run = time.monotonic()
    rc = run_jvm(java_cmd(cp, tmp, "graftbench.Main", args), os.path.join(out, "jvm.log"), RUN_LIMIT_S)
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        die(f"harness exited with {rc} (see {os.path.relpath(out, ROOT)}/jvm.log)")
    with open(res_path) as f:
        res = json.load(f)

    mismatches = check_outputs(res, out)
    failed = res["failed_executions"] + len(mismatches)
    attempted = res["attempted"]

    if a.trace:
        values = dict(res["layers"], **{"driver.peak_rss_mb": res["peak_rss_mb"]})
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        qs = list(res["query_s"].values())
        if not qs:
            die("no timed query succeeded")
        values = {
            "setup_s": res["setup_s"],
            "wall_s": statistics.median(res["pass_s"]),
            "query_p50_s": quantile(qs, 0.5),
            "query_p90_s": quantile(qs, 0.9),
            "cpu_s": statistics.median(res["pass_cpu_s"]),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": res["cpus"],
        "queries": len(res["queries"]),
        "warmup_passes": len(res["warmup_pass_s"]), "warmup_pass_s": res["warmup_pass_s"],
        "timed_passes": len(res["pass_s"]), "pass_s": res["pass_s"],
        "query_samples": len(res["query_s"]), "peak_rss_mb": res["peak_rss_mb"],
        "fail_ratio": failed / max(attempted, 1),
        "failed_queries": res["failed"], "mismatched_queries": mismatches,
        "jvm_s": round(time.monotonic() - t_run, 3), "run_s": round(time.monotonic() - t_start, 3),
    }
    if a.trace:
        detail["ledger"] = os.path.relpath(os.path.join(out, "ledger.jsonl"), ROOT)
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    # SIGTERM unwinds through run_jvm, which kills the JVM's process group.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
