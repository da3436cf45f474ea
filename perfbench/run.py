#!/usr/bin/env python3
"""Run one benchmark measurement of the near-dup pipeline.

    python3 perfbench/run.py --workload hot_chain --seed 1 --seconds 22 --trace 0

Builds the program and the benchmark (``perfbench/build.py``) if a source
changed, then runs ``perfbench.PerfBench`` in one JVM with a
fixed session: ``local[<half the usable cores>]``, 4 shuffle partitions per
Spark core, AQE on, a fixed 4 GiB heap and the parallel collector. Everything the run writes
(inputs, stores, Spark scratch space) lives under ``.bench_work/`` and is
deleted when the run ends; the spans of a traced run are kept under
``.bench_out/``. The last line of standard output is the result JSON.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("batch_web", "hot_chain", "incremental_recrawl")
HEAP = "4g"
# a run must end within 180 s; leave room for JVM exit and clean-up
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    build.build()
    usable = len(os.sched_getaffinity(0))
    # Spark gets half the cores: the driver thread, the JIT compiler threads
    # and the collector need the rest, so the run does not queue for a core
    cores = max(1, usable // 2)
    name = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(build.ROOT, ".bench_work", name)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={usable}",
            f"-Djava.io.tmpdir={tmp}", "-cp", build.classpath(), "perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--cores", str(cores)]
    if args.trace == "1":
        out_dir = os.path.join(build.ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        cmd += ["--spans", os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    # a terminated run still stops the benchmark JVM and removes its files
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    if proc.returncode != 0 or not result:
        sys.stdout.write(stdout)
        print(f"perfbench: benchmark JVM exited with {proc.returncode} and no result", file=sys.stderr)
        return proc.returncode or 1
    for line in lines:
        if line != result[-1]:
            print(line)
    print(result[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
