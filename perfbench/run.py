#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest|serve|registry --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the benchmark
(perfbench/build.py) into $CARGO_TARGET_DIR (default .bench_build),
runs the workload in one JVM, and prints as its last line one JSON
object: correct, attempted, failed and metrics. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer ones. Provenance (nproc, seed, commit, calibration probe,
loadavg, hot_host) is printed on the line before it. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("ingest", "serve", "registry")
JVM_TIMEOUT_S = 170


def commit():
    """The commit of the checkout; a source fingerprint when it is not a
    git repository."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "tree:" + build.fingerprint(build.sources())[:16]


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def main():
    ap = argparse.ArgumentParser()
    # record-registry rewrites perfbench/data/registry_expected.tsv from one
    # pass; run it only on a commit whose registry passes tools/check.py
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("record-registry",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    out_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                              os.path.join(ROOT, ".bench_build"))
    os.makedirs(out_dir, exist_ok=True)
    try:
        classpath = build.build(out_dir)
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    nproc = os.cpu_count() or 1
    cpus = min(4, nproc)
    work = os.path.join(out_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    load_before = loadavg()
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", *build.JVM_OPENS,
           f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cpus", str(cpus), "--work", work,
           "--data", os.path.join(HERE, "data", "sf0.01"),
           "--out", result_file]
    log_path = os.path.join(out_dir, f"last-{a.workload}.log")
    # a SIGTERM from the caller unwinds through the finally below, which
    # stops the JVM and waits for it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(f"{a.workload} run terminated"))
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                sys.exit(f"{a.workload} run exceeded {JVM_TIMEOUT_S}s (log: {log_path})")
        if code != 0 or not os.path.exists(result_file):
            with open(log_path) as log:
                tail = log.read()[-3000:]
            sys.exit(f"{a.workload} run failed with code {code}:\n{tail}")
        with open(result_file) as f:
            res = json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    if a.workload == "record-registry":
        print("recorded", os.path.join(HERE, "data", "registry_expected.tsv"))
        return
    missing = [m for m in wanted if m not in res["metrics"]]
    if missing:
        sys.exit(f"{a.workload} run did not measure {missing}")
    context = dict(res["context"], workload=a.workload, seed=a.seed, nproc=nproc,
                   commit=commit(), loadavg_before=load_before,
                   loadavg_after=loadavg(), trace=a.trace)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m: res["metrics"][m] for m in wanted},
    }))


if __name__ == "__main__":
    main()
