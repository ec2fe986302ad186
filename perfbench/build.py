#!/usr/bin/env python3
"""The benchmark's build: the engine's main sources compiled together with
the benchmark driver, against the jars of a Spark distribution.

    python3 perfbench/build.py        # prints the run classpath

It runs the Scala compiler that ships in the Spark distribution's jars
($SPARK_HOME, or the distribution that holds `spark-submit` on PATH) in
one JVM, so the build needs no build tool and writes nothing outside
perfbench/work/. Classes are built once per source state, into
perfbench/work/build/classes-<hash of the sources>/.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD_TIMEOUT_S = 780
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src", "main", "scala"))
COMPILER_JARS = ("scala-compiler-", "scala-library-", "scala-reflect-")


class BuildFailed(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildFailed("no Spark distribution: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BuildFailed(f"no jars directory in the Spark distribution {home}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    missing = [d for d in SOURCE_DIRS if not os.path.isdir(d)]
    if missing:
        raise BuildFailed(f"missing sources: {', '.join(missing)}")
    return sorted(os.path.join(d, f) for base in SOURCE_DIRS
                  for d, _, fs in os.walk(base) for f in fs if f.endswith(".scala"))


def build():
    """Compiles engine + driver once per source state; returns the classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(WORK, "build", f"classes-{h.hexdigest()[:16]}")
    classpath = os.pathsep.join([out, os.path.join(jars, "*")])
    if os.path.exists(os.path.join(out, ".done")):
        return classpath
    compiler = []
    for prefix in COMPILER_JARS:
        found = sorted(glob.glob(os.path.join(jars, prefix + "*.jar")))
        if not found:
            raise BuildFailed(f"no {prefix}*.jar in {jars}")
        compiler.append(found[-1])
    # classes of older source states are not used again
    for old in glob.glob(os.path.join(WORK, "build", "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = os.path.join(WORK, "build", "tmp")
    os.makedirs(out)
    os.makedirs(tmp, exist_ok=True)
    args = os.path.join(WORK, "build", "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(f'"{s}"' for s in srcs) + "\n")
    log = os.path.join(WORK, "build", "scalac.log")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", os.path.join(jars, "*"), "@" + args]
    try:
        with open(log, "w") as lf:
            p = subprocess.run(cmd, cwd=HERE, stdout=lf, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except FileNotFoundError:
        raise BuildFailed(f"no java at {cmd[0]}")
    except subprocess.TimeoutExpired:
        raise BuildFailed(f"scalac ran over {BUILD_TIMEOUT_S} s (log: {log})")
    if p.returncode != 0:
        lines = open(log, errors="replace").read().splitlines()
        raise BuildFailed(f"scalac exit {p.returncode}; last lines:\n" + "\n".join(lines[-15:]))
    open(os.path.join(out, ".done"), "w").close()
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildFailed as e:
        print(f"perfbench build failed: {e}", file=sys.stderr)
        sys.exit(2)
