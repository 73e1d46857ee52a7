#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload lake_sweep --seed 1 --seconds 20 --trace 0

Builds the engine and the JVM harness from source on first use (sbt, into
.bench_build/), runs one workload in one JVM, checks its outputs, and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics and writes the spans to .bench_build/traces/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")

import metrics  # noqa: E402  (perfbench/metrics.py)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Spark settings the engine's own build passes to every JVM it forks.
SPARK_PROPS = [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.sql.legacy.parquet.nanosAsLong=true",
    "-Dspark.sql.sources.partitionColumnTypeInference.enabled=false",
]

RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "scala")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles engine + harness with sbt when the sources changed; returns
    {"stamp", "classpath", ...}, the stamp being a digest of the sources."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "build.json")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            b = json.load(fh)
        if b.get("stamp") == stamp and os.path.isdir(b["classes"]):
            return b
    os.makedirs(OUT, exist_ok=True)
    log("building engine and harness with sbt ...")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       f" -Dsbt.offline=true -Xmx2g -Djava.io.tmpdir={tmp}")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln.strip() for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln]
    if p.returncode != 0 or not lines:
        errors = [ln for ln in p.stdout.splitlines() if ln.startswith("[error]")]
        sys.stderr.write("\n".join(errors[:60] or p.stdout.splitlines()[-30:]) + "\n")
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit("build failed")
    classpath = lines[-1]
    classes = classpath.split(":")[0]
    b = {"stamp": stamp, "classpath": classpath, "classes": classes,
         "build_s": time.time() - t0}
    with open(stamp_file, "w") as fh:
        json.dump(b, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return b


def machine():
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    # Driver heap: at most half of RAM, and no more than 2 GiB.
    heap_mb = max(1024, min(2048, mem_kb // 1024 // 2))
    return cores, heap_mb


def run_jvm(classpath, args, work, log_path, deadline):
    cores, heap_mb = machine()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", f"-Xmn{heap_mb // 2}m",
            f"-Djava.io.tmpdir={tmp}"] + SPARK_PROPS +
           ["-cp", classpath, "graftbench.Main", "--cores", str(cores)] + args)
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    return rc


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        xs = [int(x) for x in fh.readline().split()[1:9]]
    return xs[7], sum(xs)


def tail(path, n=40):
    try:
        with open(path) as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--negative-control", action="store_true",
                    help="lake_sweep: call Validation.validate twice more before each transform")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("engine sources (src/main/scala) not found next to perfbench/")
        return 2
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        log("SPARK_HOME must point at a Spark distribution (its jars/ are the build classpath)")
        return 2
    with open(os.path.join(BENCH, "workloads.json")) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        log(f"unknown workload {a.workload}")
        return 2
    spec = workloads[a.workload]

    b = build()
    deadline = time.time() + RUN_TIMEOUT_S
    work = os.path.join(OUT, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out,
            "--data", os.path.join(BENCH, "data"),
            "--negative-control", "1" if a.negative_control else "0"]
    for k, v in spec["cfg"].items():
        args += [f"--cfg.{k}", ",".join(v) if isinstance(v, list) else str(v)]
    log_path = os.path.join(OUT, f"last-{a.workload}.log")
    steal0, total0 = cpu_times()
    try:
        rc = run_jvm(b["classpath"], args, work, log_path, deadline)
        steal1, total1 = cpu_times()
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(tail(log_path))
            log(f"harness exited with {rc}")
            return 1
        with open(out) as fh:
            res = json.load(fh)
        results = os.path.join(OUT, "results")
        os.makedirs(results, exist_ok=True)
        shutil.copy(out, os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
        checks = []
        if "samples" in res:
            checks = metrics.oracle_check(res, os.path.join(BENCH, "oracle", "digests.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report = metrics.end_to_end(res, spec, checks)
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # high share explains a slow run that the engine did not cause.
    log(f"set-up {res['setup_s']:.1f} s (JVM start to first timed operation), "
        f"window {res.get('window_s', 0):.1f} s, "
        f"host steal {(steal1 - steal0) / max(1, total1 - total0):.1%} of CPU time")
    for f in res.get("findings", []) + [c["finding"] for c in checks if not c["ok"]]:
        log(f"finding: {f}")
    last_dir = os.path.join(OUT, "last")
    os.makedirs(last_dir, exist_ok=True)
    last_path = os.path.join(last_dir, f"{a.workload}.json")
    this = {"seed": a.seed, "stamp": b["stamp"], "metrics": report["metrics"]}
    if a.trace:
        cores, _ = machine()
        untraced = None
        if os.path.exists(last_path):
            with open(last_path) as fh:
                untraced = json.load(fh)
        over = metrics.overhead(this, untraced)
        if over is None:
            log("tracing overhead not measured: no untraced run of this seed on this build")
        else:
            log("tracing overhead (traced - untraced): " + json.dumps(over, sort_keys=True))
        layer = metrics.per_layer(res, report, cores)
        trace_dir = os.path.join(OUT, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"spans": res.get("spans", []), "self_s": res.get("self_s", {}),
                       "count_ms": res.get("count_ms", {}), "per_layer": layer,
                       "count_over_noop": metrics.count_over_noop(res),
                       "overhead": over}, fh)
        log(f"trace written to {os.path.relpath(trace_path, ROOT)}")
        values = layer
    else:
        with open(last_path, "w") as fh:
            json.dump(this, fh)
        values = {k: report["metrics"][k] for k in metrics.E2E}
    units = metrics.UNITS
    print("perfbench report: " + json.dumps(report["metrics"], sort_keys=True))
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
