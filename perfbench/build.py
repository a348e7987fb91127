#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (``src/main/scala`` at the repository root)
together with the benchmark's own sources (``perfbench/src``) into
``perfbench/.build/perfbench.jar`` with the Scala compiler that ships in the
Spark distribution (``$SPARK_HOME/jars``), so no build tool or network is
needed. ``run.py`` then records a class-data-sharing archive of the classes
one run loads (``classes.jsa``), which cuts every later JVM's start by
seconds.

    python3 perfbench/build.py          # build if the sources changed
    python3 perfbench/build.py --force  # rebuild

A stamp file records a digest of every compiled source; an unchanged tree is
not recompiled. Exit code 0 on success, 1 on a compile error or when the
program's sources are missing.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
ARCHIVE_FAILED = ARCHIVE + ".failed"
STAMP = os.path.join(BUILD, "stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")
    return jars


def classpath():
    # class-data sharing takes jars only, never a directory
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    if not out:
        raise SystemExit("build: no Scala sources found")
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(force=False):
    files = sources()
    want = digest(files)
    if not force and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    for f in (STAMP, JAR, ARCHIVE, ARCHIVE_FAILED):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with zipfile.ZipFile(JAR, "w") as jar:
        for base, _, names in os.walk(CLASSES):
            for n in names:
                path = os.path.join(base, n)
                jar.write(path, os.path.relpath(path, CLASSES))
    with open(STAMP, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    build(force="--force" in sys.argv[1:])
