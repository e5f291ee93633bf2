#!/usr/bin/env python3
"""Connector benchmark: one workload, one seed, one fresh JVM.

Usage:
  python3 connbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 connbench/run.py --all [--seed <n>] [--seconds <s>] [--trace <0|1>]

Run from the root of a checkout. The first run builds the program and
the harness (connbench/harness) with sbt, offline; later runs reuse the
build while its sources are unchanged. Every run works in its own
directory under .bench_build/runs and removes it when it ends.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones (see
connbench/README.md). Standard error carries one readable line per
metric with its unit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["jdbc_bulk", "parquet_bulk", "pipeline_q154"]
RUN_TIMEOUT_S = 170
# Scale factor of the pipeline workload's input (the harness reads the same)
PIPELINE_SF = "sf0.01"
# Maximum heap of the measured JVM, passed to build.sbt's javaOptions (it
# reads SPARK_DRIVER_MEM; its own default is 8g). Fixed, so the numbers do
# not follow the host's RAM.
DRIVER_MEM = "2g"


def log(msg):
    print(f"[connbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def default_data_dir():
    """The seed-42 test data: one directory per scale factor (TESTDATA.md)."""
    return os.environ.get("CONNBENCH_DATA", os.path.join(os.path.expanduser("~"), "testdata"))


def write_lineitem_csv(data, path):
    """lineitem as header-less CSV, for the harness's Derby bulk import."""
    import pyarrow.csv as pc
    import pyarrow.parquet as pq
    pc.write_csv(pq.read_table(os.path.join(data, "sf0.1", "lineitem.parquet")), path,
                 pc.WriteOptions(include_header=False))


def build_inputs():
    """Every file whose change requires a rebuild, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                      if f.endswith((".sbt", ".scala", ".properties"))]
    files.append(os.path.join(HARNESS, "build.sbt"))
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, dirs, fs in os.walk(src):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def ensure_built():
    """Build with sbt unless the last build used the same sources.
    Returns the path of the file holding the classpath and javaOptions."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a checkout of the program: {need} is missing")
    h = hashlib.sha256(DRIVER_MEM.encode())
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    env_file = os.path.join(HARNESS, "target", "run-env.txt")
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(env_file) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return env_file
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=DRIVER_MEM)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    build_log = os.path.join(BUILD, "build.log")
    log("building the program and the harness with sbt")
    t0 = time.time()
    with open(build_log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportRun"],
                             cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(env_file):
        with open(build_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {build_log}", 3)
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return env_file


def run_jvm(env_file, args, run_dir, trace_out):
    """Launch one measured JVM; return (setup seconds, result dict)."""
    with open(env_file) as fh:
        lines = fh.read().splitlines()
    classpath, java_opts = lines[0], [l for l in lines[1:] if l]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "out"))
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", *java_opts, "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={run_dir}", "-cp", classpath, "connbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", args.data, "--cores", str(cores), "--run-dir", run_dir]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    err_path = os.path.join(run_dir, "jvm.err")
    launched = time.time_ns()
    if args.workload.startswith("jdbc_"):
        csv = os.path.join(run_dir, "lineitem.csv")
        write_lineitem_csv(args.data, csv)
        cmd += ["--csv", csv]
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        # a JVM that hangs is killed, with everything it started
        watchdog = threading.Timer(RUN_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
        watchdog.start()
        ready_ns, result = None, None
        try:
            for line in proc.stdout:
                if line.startswith("CONNBENCH_PHASE "):
                    log(f"{args.workload}: set-up phase " + " ".join(line.split()[1:]) + " s")
                elif line.startswith("CONNBENCH_READY "):
                    ready_ns = int(line.split()[1])
                elif line.startswith("CONNBENCH_RESULT "):
                    result = json.loads(line[len("CONNBENCH_RESULT "):])
            proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or result is None or ready_ns is None:
        with open(err_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"{args.workload}: the JVM exited with {proc.returncode} "
             "without a result", 4)
    return (ready_ns - launched) / 1e9, result


def oracle_ok(data_dir, out_dir, name):
    """The repository's DuckDB check (scripts/oracle_check.py) of one
    query's written output; it exits with 0 only if the output matches."""
    try:
        check = subprocess.run(
            [sys.executable, os.path.join(ROOT, "scripts", "oracle_check.py"),
             data_dir, out_dir, name],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            text=True, timeout=60)
    except subprocess.TimeoutExpired:
        log(f"oracle: {name} not checked within 60 s")
        return False
    for line in check.stdout.splitlines():
        log(f"oracle: {line}")
    return check.returncode == 0


def run_one(args):
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; choose from {', '.join(WORKLOADS)}")
    for sf in ("sf0.1", "sf0.01"):
        if not os.path.isdir(os.path.join(args.data, sf)):
            fail(f"no test data at {os.path.join(args.data, sf)} (set CONNBENCH_DATA)")
    env_file = ensure_built()
    runs = os.path.join(BUILD, "runs")
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    trace_out = None
    if args.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        trace_out = os.path.join(BUILD, "traces", f"{args.workload}-s{args.seed}.jsonl")
    try:
        setup_s, res = run_jvm(env_file, args, run_dir, trace_out)
        for name, n_ops in res.pop("oracle", {}).items():
            if not oracle_ok(os.path.join(args.data, PIPELINE_SF),
                             os.path.join(run_dir, "out"), name):
                log(f"{name} differs from the DuckDB oracle")
                res["failed"] = min(res["attempted"], res["failed"] + n_ops)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = res["metrics"]
    if not args.trace:
        metrics["setup_s"] = {"value": setup_s, "unit": "s"}
        # the oracle check above, and the peak-RSS calls after the timed
        # loop, may have failed operations the timed loop did not count
        metrics["ok_frac"]["value"] = 1 - res["failed"] / res["attempted"]
    for k, v in sorted(metrics.items()):
        log(f"{args.workload:16s} {k:40s} {v['value']!s:>24} {v['unit']}")
    log(f"{args.workload:16s} failed_frac {res['failed'] / res['attempted']:.4f} "
        f"({res['failed']} of {res['attempted']} operations)")
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--all", action="store_true", help="run every workload in turn")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    args.data = default_data_dir()
    if args.all:
        results = {}
        for w in WORKLOADS:
            args.workload = w
            results[w] = run_one(args)
        print(json.dumps(results))
    elif args.workload:
        print(json.dumps(run_one(args)))
    else:
        fail("give --workload <name> or --all")


if __name__ == "__main__":
    main()
