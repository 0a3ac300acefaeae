#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload migrate_wire --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one table

Run from the repository root. The first run builds (see build.py). Each
run is one JVM: set-up, warm-up passes, then passes for --seconds. The
last stdout line is one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics with --trace 0, the per-layer ones
with --trace 1. The exit code is 0 only when every correctness check held.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["migrate_wire", "corpus_queries"]
HEAP = "2g"
RUN_TIMEOUT_S = 170
# Spark needs these on JDK 17 when started outside spark-submit
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def cpus():
    """local[n] with n half the usable cores, at most 2: the same on every
    workload, leaving cores for the JIT compiler and GC threads, which on
    the corpus queries use more than one core while passes run."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(2, n // 2))


def run_one(workload, seed, seconds, trace, classes, jars):
    """Runs one JVM; returns (exit code, parsed result or None)."""
    work = os.path.abspath(os.path.join(build.OUT_ROOT, "work", workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")]
           + [a for p in OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work, "--cpus", str(cpus()),
              "--spans", os.path.abspath(os.path.join(build.OUT_ROOT, "traces", f"{workload}-{seed}.jsonl"))])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: {workload} did not finish within {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1, None
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"perfbench: {workload} printed no result (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1, None
    return proc.returncode, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        sys.exit("perfbench: run from the root of a graft checkout (src/main/scala/graft is missing)")
    t0 = time.time()
    try:
        classes, jars = build.build(".")
    except subprocess.CalledProcessError as e:
        sys.exit(f"perfbench: build failed: {e}")
    if time.time() - t0 > 1:
        print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)

    if args.workload != "all":
        code, result = run_one(args.workload, args.seed, args.seconds, args.trace, classes, jars)
        if result is None:
            sys.exit(code or 1)
        print(json.dumps(result))
        sys.exit(code)

    worst = 0
    for w in WORKLOADS:
        code, result = run_one(w, args.seed, args.seconds, args.trace, classes, jars)
        worst = worst or code or (0 if result else 1)
        if result is None:
            print(f"{w:16s} NO RESULT")
            continue
        print(f"{w:16s} correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}")
        for name, m in result["metrics"].items():
            print(f"  {name:36s} {m['value']:>14.6g} {m['unit']}")
    sys.exit(worst)


if __name__ == "__main__":
    main()
