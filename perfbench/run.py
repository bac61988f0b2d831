#!/usr/bin/env python3
"""Benchmark of record for the graft dedup engine.

    python3 perfbench/run.py --workload <ops_suite|dedup_full>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the checkout's own
program and this harness with sbt (offline); later runs reuse the build
while no source file changed. Each run is one JVM with local[nproc] task
slots and the JVM flags of tools/run_main.sh, heap sized from MemTotal.

Standard output ends with one JSON line: {"correct", "attempted", "failed",
"metrics"}; the metrics are the end-to-end ones with --trace 0 and the
per-layer ones with --trace 1. The line before it holds the full report:
every metric with its sample count, failures, and the host it ran on. The
exit code is 0 only when every op succeeded and every output check passed.

Options for testing the benchmark itself: --queries a,b (ops_suite subset,
`all` for every query), --n N (dedup rows), --reference FILE (ops_suite
fingerprints), --fail-op NAME (make that query throw), and
--capture-reference FILE (write fingerprints instead of timing).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ops_suite", "dedup_full")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# tools/run_main.sh's flags, with its default codegen and code-cache sizes
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def heap_flag(mem_kb):
    """Half of MemTotal in GiB, clamped to 2..8 GiB (the Tier-1 rule)."""
    g = mem_kb // 2097152
    return f"-Xmx{min(max(g, 2), 8)}g"


def steal_jiffies():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compiles the checkout's program and this harness unless an identical
    source tree was built already. Returns the source digest and the
    runtime classpath sbt resolved for the harness."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no program sources in {ROOT} (expected build.sbt and src/main/scala)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return digest, open(cp_file).read()
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "logs", "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        log.write(p.stdout)
    # `export` prints the classpath as a bare line after sbt's [info] lines
    cps = [l for l in p.stdout.splitlines() if l and not l.startswith("[") and os.pathsep in l]
    if p.returncode != 0 or not cps:
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-30:]))
        die(f"build failed (exit {p.returncode}); log in {log_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return digest, cps[-1]


def git_sha():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    ap.add_argument("--queries")
    ap.add_argument("--n", type=int)
    ap.add_argument("--reference", default=os.path.join(HERE, "reference", "ops_suite_sf0.001.tsv"))
    ap.add_argument("--fail-op")
    ap.add_argument("--capture-reference")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload '{a.workload}' (known: {', '.join(WORKLOADS)})", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)  # the metric names and units the result line carries

    digest, classpath = build()
    slots = len(os.sched_getaffinity(0))
    mem_kb = mem_total_kb()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jvm_flags = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        heap_flag(mem_kb), "-Dspark.sql.codegen.cache.maxEntries=8000",
        "-XX:ReservedCodeCacheSize=1g", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC"]
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--slots", str(slots), "--work", work,
            "--data", os.path.join(HERE, "data"), "--reference", os.path.abspath(a.reference)]
    for flag, val in (("--queries", a.queries), ("--n", a.n), ("--fail-op", a.fail_op),
                      ("--capture-reference", a.capture_reference)):
        if val is not None:
            args += [flag, os.path.abspath(val) if flag == "--capture-reference" else str(val)]

    log_path = os.path.join(BUILD, "logs", f"{a.workload}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    steal0 = steal_jiffies()
    launch_ns = time.time_ns()
    cmd = ["java"] + jvm_flags + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                  "-cp", classpath, "perfbench.BenchMain",
                                  "--launch-epoch-ns", str(launch_ns)] + args
    # Spark honours SPARK_LOCAL_DIRS over spark.local.dir; keep scratch in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # a SIGTERM to this script unwinds through the `finally` that stops the JVM
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"workload {a.workload} did not finish within {JVM_TIMEOUT_S} s; log in {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    steal = steal_jiffies() - steal0

    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if not lines:
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-30:]))
        die(f"workload {a.workload} printed no report (exit {proc.returncode}); log in {log_path}")
    report = json.loads(lines[-1][len("PERFBENCH "):])
    report["host"] = {
        "nproc": len(os.sched_getaffinity(0)), "task_slots": slots, "mem_total_kb": mem_kb,
        "jvm_flags": jvm_flags, "spark_version": report["info"].get("spark_version"),
        "git_sha": git_sha(), "source_sha256": digest, "steal_jiffies": steal,
        "seed": a.seed, "seconds": a.seconds, "trace": int(a.trace),
    }
    print(json.dumps({"report": report}))
    if a.capture_reference:
        sys.exit(proc.returncode)
    if a.trace == "1":
        # a layer this workload does not touch reads 0 (0 samples in the report)
        metrics = {m["name"]: report["per_layer"].get(m["name"], {"value": 0.0, "unit": m["unit"]})
                   for m in declared["per_layer"]}
    else:
        metrics = {m["name"]: report["end_to_end"][m["name"]]
                   for m in declared["end_to_end"] if m["name"] in report["end_to_end"]}
    result = {
        "correct": report["correct"] and proc.returncode == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
