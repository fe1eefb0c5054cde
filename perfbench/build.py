#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (src/main/scala) together with the benchmark's
own sources (perfbench/src) into perfbench/target/classes, with the Scala
compiler that ships in the Spark distribution's jars. No sbt, no network:
the Spark jars are the whole classpath. A stamp of the source contents
skips the compile when nothing changed.

    python3 perfbench/build.py          # from the repository root
"""
import fcntl
import hashlib
import os
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
CLASSES = TARGET / "classes"
LIB_SOURCES = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SOURCES = BENCH / "src"


def spark_jars():
    home = Path(os.environ.get("SPARK_HOME", "/opt/spark"))
    jars = home / "jars"
    if not any(jars.glob("spark-core_*.jar")):
        raise SystemExit(f"build: no Spark distribution jars under {jars}")
    return jars


def sources():
    if not (LIB_SOURCES / "graft" / "soccer" / "SoccerPredictor.scala").exists():
        raise SystemExit(f"build: library sources missing under {LIB_SOURCES}")
    files = sorted(LIB_SOURCES.rglob("*.scala")) + sorted(BENCH_SOURCES.rglob("*.scala"))
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, library resources, Spark jars."""
    return os.pathsep.join([str(CLASSES), str(RESOURCES), str(spark_jars() / "*")])


def build(log=sys.stderr):
    """Compiles when the sources changed; returns the runtime classpath."""
    files = sources()
    jars = spark_jars()
    TARGET.mkdir(parents=True, exist_ok=True)
    with open(TARGET / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # concurrent runs build once
        want = stamp(files)
        stamp_file = TARGET / "stamp"
        if stamp_file.exists() and stamp_file.read_text() == want and CLASSES.exists():
            return classpath()
        t0 = time.time()
        stage = TARGET / "classes.new"
        if stage.exists():
            subprocess.run(["rm", "-rf", str(stage)], check=True)
        stage.mkdir()
        argfile = TARGET / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
               "-nowarn", "-d", str(stage), "-classpath", str(jars / "*"), f"@{argfile}"]
        r = subprocess.run(cmd, stdout=log, stderr=log)
        if r.returncode != 0:
            raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
        if CLASSES.exists():
            subprocess.run(["rm", "-rf", str(CLASSES)], check=True)
        stage.rename(CLASSES)
        stamp_file.write_text(want)
        print(f"build: compiled {len(files)} files in {time.time() - t0:.1f} s", file=log)
        return classpath()


if __name__ == "__main__":
    build()
