#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources, the
test-scope Kafka broker the stream workload runs against, and the
benchmark's own Scala sources with the Scala compiler that ships in
Spark's jar directory. Outputs go under `perfbench/.work/build/`, keyed
by a hash of the sources, so a checkout builds once.

Usage: python3 perfbench/build.py        (prints the runtime classpath)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".work", "build")
# the engine's main code plus the one test-scope file the benchmark needs
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BROKER_SRC = os.path.join(ROOT, "src", "test", "scala", "graft", "sources",
                          "MiniKafkaBroker.scala")
BENCH_SRC = os.path.join(HERE, "scala")


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the sbt build compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("build: set SPARK_HOME to a Spark installation")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark jars with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def sources(root, pattern="**/*.scala"):
    return sorted(glob.glob(os.path.join(root, pattern), recursive=True))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(srcs, classpath, out):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-cp", classpath, "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    os.replace(tmp, out)


def fresh(prefix, key):
    """The output directory for `key`; older builds of the same kind go."""
    out = os.path.join(BUILD, f"{prefix}-{key}")
    for old in glob.glob(os.path.join(BUILD, f"{prefix}-*")):
        if old not in (out, out + ".tmp"):
            shutil.rmtree(old, ignore_errors=True)
    return out


def build():
    """Returns the classpath to run the benchmark with."""
    if not os.path.isdir(MAIN_SRC) or not os.path.isfile(BROKER_SRC):
        raise SystemExit("build: the engine's sources are not in this checkout")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        return _build()


def _build():
    main_srcs = sources(MAIN_SRC) + [BROKER_SRC]
    res = sorted(p for p in glob.glob(os.path.join(MAIN_RES, "**"), recursive=True)
                 if os.path.isfile(p))
    main_out = fresh("main", digest(main_srcs + res))
    if not os.path.isdir(main_out):
        scalac(main_srcs, spark_jars(), main_out)
        for p in res:
            dst = os.path.join(main_out, os.path.relpath(p, MAIN_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
    bench_srcs = sources(BENCH_SRC)
    bench_out = fresh("bench", digest(main_srcs + res + bench_srcs))
    if not os.path.isdir(bench_out):
        scalac(bench_srcs, os.pathsep.join([main_out, spark_jars()]), bench_out)
    return os.pathsep.join([bench_out, main_out, spark_jars()])


if __name__ == "__main__":
    print(build())
