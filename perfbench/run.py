#!/usr/bin/env python3
"""Benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the benchmark from
source on first use (see build.py), then runs one workload in a fresh JVM
with a per-run scratch directory under perfbench/target/runs that is deleted
on exit. The JVM prints informational '#' lines and, as its last line, the
result object, which this script passes through as its own last line. The
exit code is non-zero when the build fails, an output check fails, or no
result was produced.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("predict_serve", "train_league", "odds_ingest", "dedup_corpus")
RUN_TIMEOUT_S = 170  # the whole run, set-up included, must end well within 180 s
# no hsperfdata file under /tmp: the run writes only inside the checkout
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()  # exits non-zero when the sources or toolchain are missing
    runs = build.TARGET / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    proc = None
    last = None
    timed_out = threading.Event()

    def kill():
        if proc.poll() is None:
            timed_out.set()
            os.killpg(proc.pid, signal.SIGKILL)

    def on_term(signum, frame):
        raise SystemExit(128 + signum)  # runs the cleanup below

    signal.signal(signal.SIGTERM, on_term)
    try:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
        watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
        watchdog.start()
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line  # held back so it is printed last
            else:
                print(line, flush=True)
        code = proc.wait()
        watchdog.cancel()
        if timed_out.is_set():
            print(f"# run killed after {RUN_TIMEOUT_S} s", file=sys.stderr)
            code, last = 124, None
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if last is None:
        print(f"# no result (exit code {code})", file=sys.stderr)
        sys.exit(code or 1)
    print(last, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
