#!/usr/bin/env python3
"""The repository benchmark: one workload per run, from the repository root.

    python3 perfbench/run.py --workload extract|clean|suite --seed N \
        --seconds S --trace 0|1 [--pins DIR]

Builds the program from source (perfbench/build.py), runs the workload in
one local[nproc] Spark JVM (graft.perfbench.Main), prints a human-readable
report, then as the last line one JSON object with `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer metrics
with --trace 1). Exits 1 when an output check fails. Spans of a traced run
go to .bench_out/. See perfbench/README.md.
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
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("extract", "clean", "suite")
# A JVM run may take this long beyond its timed loop: session start, set-up,
# the pass that overruns the loop, and the checks.
ALLOWANCE_S = 120
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Fixed heap so runs do not depend on the host's memory; ParallelGC as in
# build.sbt (the extraction path is allocation-dense).
JVM_FLAGS = ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def jvm(jar, work, main_args, timeout_s=ALLOWANCE_S, flags=()):
    """Runs graft.perfbench.Main in `work`; its console output goes to a log."""
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += JVM_FLAGS + list(flags) + [
        f"-Djava.io.tmpdir={work}/tmp", "-cp", ":".join([jar] + build.spark_jars()),
        "graft.perfbench.Main", "--work", work,
        "--data", os.path.join(HERE, "data", "sf0.01")] + main_args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)

        def stop(*_):  # a terminated benchmark leaves no JVM behind
            proc.kill()
            proc.wait()
            sys.exit(143)
        signal.signal(signal.SIGTERM, stop)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as log:
            tail = log.read()[-4000:]
        sys.stderr.write(f"perfbench: JVM exited with {code}; log tail:\n{tail}\n")
    return code == 0


def class_archive(jar):
    """JVM flags that load classes from a class-data sharing archive, made
    once per build by a session start. Spark's start-up is mostly class
    loading: the archive roughly halves it, in every run of both commits
    alike. -Xshare:on makes a JVM that cannot use the archive fail instead
    of starting slower, so setup_s never silently loses it."""
    jsa = os.path.join(build.build_dir(), "perfbench.jsa")
    if not os.path.exists(jsa) or os.path.getmtime(jsa) < os.path.getmtime(jar):
        work = os.path.join(ROOT, ".bench_work", f"archive-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            if not jvm(jar, work, ["--train", "1"],
                       flags=[f"-XX:ArchiveClassesAtExit={jsa}"]):
                sys.exit("perfbench: the class-sharing archive's training run failed")
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if not os.path.exists(jsa):
            sys.exit(f"perfbench: the training run wrote no archive {jsa}")
    return ["-Xshare:on", f"-XX:SharedArchiveFile={jsa}"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pins", default=os.path.join(HERE, "pins"),
                    help="directory of pinned expected outputs")
    a = ap.parse_args()

    jar = build.build()
    flags = class_archive(jar)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(trace_dir, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    try:
        ok = jvm(jar, work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--pins", os.path.abspath(a.pins), "--out", result_path,
            "--trace-out", os.path.join(trace_dir, f"trace-{a.workload}-{a.seed}.jsonl")],
            timeout_s=ALLOWANCE_S + (2 if a.trace else 1) * a.seconds, flags=flags)
        if not ok:
            return 1
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    if [m["name"] for m in declared] != list(result["metrics"]):
        sys.exit("perfbench: the metrics printed differ from BENCHMARK.json's list")
    for line in result.pop("report"):
        print(line)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
