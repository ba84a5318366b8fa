#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark program (perfbench/src) in one scalac pass into .bench_build/classes.

The Scala compiler and Spark come from the Spark distribution's jars
($SPARK_HOME/jars, else those of the spark-submit on PATH), so the build
needs no network and no sbt. A stamp of every source file's content skips the compile when
nothing changed.

    python3 perfbench/build.py          # prints the classes dir on success
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]
SCALAC_OPTS = ["-nowarn"]


def spark_jars():
    """$SPARK_HOME/jars, else the first jars directory beside a spark-submit
    on PATH that holds the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    return os.path.join(homes[0], "jars")


def sources():
    files = []
    for r in SOURCE_ROOTS:
        d = os.path.join(ROOT, r)
        if not os.path.isdir(d):
            raise SystemExit(f"build: source root {r} is missing")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in files):
        raise SystemExit("build: no engine sources under src/main/scala")
    return sorted(files)


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(SCALAC_OPTS).encode())
    return h.hexdigest()


def build():
    """Compile if needed; returns (classes dir, source tree hash)."""
    files = sources()
    digest = tree_hash(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
        return CLASSES, digest
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at {jars}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}", "-XX:-UsePerfData",
           "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", CLASSES] + SCALAC_OPTS + ["@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return CLASSES, digest


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    print(build()[0])
    sys.exit(0)
