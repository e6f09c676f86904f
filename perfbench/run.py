#!/usr/bin/env python3
"""Benchmark of the graft engine: runs one workload and prints one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --regen-oracle     # rewrite perfbench/oracle/*.sql

Run from the root of a checkout. The first run builds the engine and the
harness into .bench_build/ (see build.sh); later runs reuse the build. Every run checks its outputs (check.py) and prints,
as its last line, {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics untraced, the per-layer metrics traced. README.md has
the workloads, metrics and reference figures.
"""
import time

T_START = time.time()  # set-up is timed from here

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import workloads  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SPARK_JARS = "/opt/spark/jars"
CPUS = min(4, os.cpu_count() or 1)
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads: engine sources and harness."""
    h = hashlib.sha256()
    paths = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            paths += [os.path.join(d, f) for f in fs]
    paths.append(os.path.join(HERE, "build.sh"))
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_build():
    """Builds once per source state; returns the seconds spent."""
    t = time.time()
    stamp_file = os.path.join(BUILD, "classes", "STAMP")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return 0.0
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["bash", os.path.join(HERE, "build.sh"),
                              os.path.join(BUILD, "classes"), SPARK_JARS],
                             stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (rc={rc}), log in {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return time.time() - t


def classpath():
    c = os.path.join(BUILD, "classes")
    return f"{c}/harness:{c}/engine:{SPARK_JARS}/*"


def run_jvm(args, run_dir, timeout):
    # java.io.tmpdir is the run's own: the engine's persisted ANN indexes
    # (graft_index/) are built by this run's code and go with the run
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -UsePerfData: no /tmp/hsperfdata file; the run writes only in the checkout
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
            "-Dstdout.encoding=UTF-8", "-Dstderr.encoding=UTF-8",
            "-cp", classpath(), "graftbench.Harness"] + args
    env = dict(os.environ, LC_ALL="C.utf8")
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness exited with {rc}")


def regen_oracle():
    ensure_build()
    names = sorted({q for w in workloads.OLAP.values() for q in w["queries"]})
    run_dir = os.path.join(BUILD, "oracle_regen")
    out = os.path.join(run_dir, "out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        run_jvm(["--workload", "oracle-sql", "--queries", ",".join(names), "--out", out],
                run_dir, 120)
        dst = os.path.join(HERE, "oracle")
        os.makedirs(dst, exist_ok=True)
        for f in os.listdir(dst):  # a query no longer measured loses its copy
            os.remove(os.path.join(dst, f))
        for f in sorted(os.listdir(out)):
            shutil.copy(os.path.join(out, f), os.path.join(dst, f))
            print(f"oracle/{f}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--regen-oracle", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala: run from a checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark distribution at {SPARK_JARS}")
    if a.regen_oracle:
        return regen_oracle()
    if a.workload not in workloads.ALL:
        fail(f"unknown workload {a.workload!r}; one of {sorted(workloads.ALL)}")

    one_time = ensure_build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        rounds = workloads.rounds(a.workload, a.seconds)
        spec = workloads.prepare(a.workload, a.seed, rounds, run_dir, CPUS)
        elapsed = time.time() - T_START
        run_jvm(["--workload", spec["kind"], "--run-dir", run_dir,
                 "--rounds", str(rounds), "--trace", str(a.trace),
                 "--cpus", str(CPUS), "--data", spec.get("data", "-")],
                run_dir, JVM_TIMEOUT_S - elapsed)
        with open(os.path.join(run_dir, "ops.jsonl")) as f:
            ops = [json.loads(l) for l in f if l.strip()]
        summary = check.read_json(os.path.join(run_dir, "summary.json"))
        if spec.get("replay"):
            spec["replay"]()  # the DuckDB replay runs once the engine has exited
        result = check.check(spec, ops, run_dir, CPUS)
        if a.trace:
            # the traced run's one record per operation outlives the run
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "ops.jsonl"),
                        os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
        setup_s = (summary["first_op_epoch_ms"] / 1000.0 - T_START) - one_time
        metrics = (workloads.layer_metrics(spec, ops, summary, run_dir) if a.trace
                   else workloads.end_to_end(spec, ops, summary, setup_s))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for msg in result["errors"][:20]:
        print(f"check: {msg}", file=sys.stderr)
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
