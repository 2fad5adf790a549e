#!/usr/bin/env python3
"""Build file of the ragbench package.

Compiles graft's main sources (``src/main/scala`` at the repository root)
together with the harness sources under ``ragbench/src`` into
``ragbench/.build/classes`` with the Scala compiler that ships in the Spark
distribution's jar directory. No network, no sbt: the classpath is exactly
the Spark jars, read from ``build.sbt``'s unmanaged base.

A build is reused only while the stamp (a hash of every source file, the
compiler classpath listing and this file) matches, so a fresh checkout always
compiles from source.

    python3 ragbench/build.py          # build (or confirm the stamp)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "stamp")


class BuildError(Exception):
    pass


def spark_jars_dir():
    """The Spark jar directory: $SPARK_JARS_DIR, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_JARS_DIR or run from a full checkout")


def sources():
    product = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not product:
        raise BuildError("no product sources under src/main/scala: run from a full checkout")
    if not harness:
        raise BuildError("no harness sources under ragbench/src")
    return product + harness


def classpath():
    spark_jars = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(spark_jars, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError(f"no scala-compiler jar in {spark_jars}")
    return jars


def stamp_of(srcs, jars):
    h = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def current_stamp():
    """Hash of the sources the classes were built from: identifies the code
    under test even in a checkout that is not a git repository."""
    with open(STAMP) as f:
        return f.read().strip()


def ensure_built(log=sys.stderr):
    """Compile if the stamp is stale; return the classpath entries to run with."""
    srcs = sources()
    jars = classpath()
    want = stamp_of(srcs, jars)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return [CLASSES] + jars
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", CLASSES, "@" + argfile]
    print(f"[ragbench] compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(BUILD_DIR, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(STAMP, "w") as f:
        f.write(want + "\n")
    return [CLASSES] + jars


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        print(f"[ragbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
