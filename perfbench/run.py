#!/usr/bin/env python3
"""One benchmark run, from the root of a checkout:

    python3 perfbench/run.py --workload mutate_cycle --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark if their sources changed (see
build.py), and on a build's first use records its class-data archive (see
class_archive). Then runs one JVM over inputs generated from the seed in a
scratch directory under .bench_work/, deletes that directory, and prints
one JSON object as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones; the traced run also writes its spans to
.bench_out/. The line before it records the seed, input sizes, cores and
heap. The exit code is 0 only when every op matched the model.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# the JVM must end within this many seconds of its start
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


proc = None


def jvm(classpath, flags, args, work, timeout):
    """Run perfbench.Main in one JVM with its scratch under `work`; return
    its exit code, or None if it ran past `timeout` seconds and was
    stopped."""
    global proc
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + flags
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--work", work] + args)
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def class_archive(root, classpath, build_dir):
    """The JVM class-data archive of this build: the classes a short
    bulk_load run loads, stored once so that later JVMs map them instead
    of loading and verifying them again. It is recorded by a training run
    the first time a build is used, outside any measured run; None if that
    run failed (the next run tries again)."""
    jsa = os.path.join(build_dir, "classes.jsa")
    if not os.path.isfile(jsa):
        print("perfbench: recording the class-data archive", file=sys.stderr, flush=True)
        tmp = jsa + ".tmp"
        work = os.path.join(root, ".bench_work", f"archive-{os.getpid()}")
        code = jvm(classpath, [f"-XX:ArchiveClassesAtExit={tmp}"],
                   ["--workload", "bulk_load", "--seed", "1", "--seconds", "1", "--trace", "0",
                    "--result", os.path.join(work, "result.json")], work, JVM_TIMEOUT_S)
        if code == 0 and os.path.isfile(tmp):
            os.rename(tmp, jsa)
    return jsa if os.path.isfile(jsa) else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        sys.exit("perfbench: run from the root of a checkout of the program "
                 "(src/main/scala/graft is missing)")

    def stop(*_):
        if proc and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        sys.exit(1)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    classpath, build_dir = build.build(root)
    jsa = class_archive(root, classpath, build_dir)

    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}-{int(time.time())}")
    result = os.path.join(root, ".bench_work", f"result-{os.getpid()}.json")
    spans = os.path.join(root, ".bench_out", f"spans-{a.workload}-seed{a.seed}.jsonl")
    try:
        code = jvm(classpath, [f"-XX:SharedArchiveFile={jsa}"] if jsa else [],
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--result", result, "--spans", spans],
                   work, JVM_TIMEOUT_S)
        if code is None:
            sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S}s, stopped")
        if code != 0 or not os.path.isfile(result):
            sys.exit(f"perfbench: run failed (exit {code})")
        info, line = open(result).read().strip().split("\n")[-2:]
        verdict = json.loads(line)
        print(info)
        print(line, flush=True)
        sys.exit(0 if verdict["correct"] else 1)
    finally:
        if os.path.exists(result):
            os.remove(result)


if __name__ == "__main__":
    main()
