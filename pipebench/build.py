#!/usr/bin/env python3
"""Build file of the benchmark: compiles the graft program sources
(`src/main/scala`) together with the benchmark harness
(`pipebench/src`) using the Scala compiler that ships in the Spark
distribution's jar directory, so no build tool or network is needed.

Output: `.bench_build/classes` under the checkout root, plus a stamp
(sha256 of every compiled source and of this file). A second call with
unchanged sources does nothing.

Usage: python3 pipebench/build.py        (from the checkout root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "src")


def spark_jars() -> str:
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def classpath() -> str:
    """Runtime classpath: compiled classes, program resources, Spark."""
    return os.pathsep.join([CLASSES, PROGRAM_RES,
                            os.path.join(spark_jars(), "*")])


def sources() -> list:
    out = []
    for base in (PROGRAM_SRC, HARNESS_SRC):
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing source directory {base}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(srcs: list) -> str:
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(quiet: bool = False) -> float:
    """Compiles when the sources changed; returns the seconds spent."""
    srcs = sources()
    stamp = stamp_of(srcs)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) \
            and open(STAMP).read().strip() == stamp:
        return 0.0
    t0 = time.time()
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed (exit {r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")
    dt = time.time() - t0
    if not quiet:
        print(f"build: compiled {len(srcs)} sources in {dt:.1f} s",
              file=sys.stderr)
    return dt


if __name__ == "__main__":
    build()
