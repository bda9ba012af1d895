#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/harness`) with the Scala compiler that
ships in the Spark jar directory, into `.bench_build/classes`.

A stamp of every source file's path and bytes makes a rebuild happen only
when a source changed. Run from the repository root:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = ["src/main/scala", "perfbench/harness"]
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars() -> str:
    """Directory of the Spark distribution's jars (compile and run path):
    $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    for d in (os.path.join(os.environ.get("SPARK_HOME", ""), "jars"), "/opt/spark/jars"):
        if glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    raise BuildError("no Spark jar directory found (set SPARK_HOME)")


def sources() -> list:
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(ROOT, d)):
            raise BuildError(f"source directory {d} is missing: "
                             "run from the repository root")
        for dirpath, _, names in os.walk(os.path.join(ROOT, d)):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".java"))]
    return sorted(files)


def stamp(files: list) -> str:
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(quiet: bool = True) -> str:
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    cp = f"{CLASSES}:{jars}/*"
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = ":".join(f"{jars}/{j}-{SCALA_VERSION}.jar" for j in
                        ("scala-compiler", "scala-library", "scala-reflect"))
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", f"{jars}/*", f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    if not quiet:
        print(res.stdout, end="")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    try:
        print(build(quiet=False))
    except BuildError as e:
        print(f"build error: {e}", file=sys.stderr)
        sys.exit(2)
