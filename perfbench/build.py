#!/usr/bin/env python3
"""Builds the benchmark: the engine's Scala sources (src/main/scala) and
the driver (perfbench/src/main/scala), compiled together into
perfbench/target/classes.

    python3 perfbench/build.py

The compiler is the Scala compiler that ships with Spark (its jars
directory holds scala-compiler next to scala-library), so the build
needs only a JDK and a Spark installation: SPARK_HOME, or the one whose
spark-submit is on PATH. It resolves nothing, and it writes only under
perfbench/target. A build is skipped while the sources are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_ROOTS = (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala"))
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "build.stamp")
SCALAC_OPTS = ["-encoding", "UTF-8", "-nowarn"]
COMPILE_CAP_S = 850


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: SPARK_HOME, or the installation whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("set SPARK_HOME to a Spark installation")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources():
    files = []
    for r in SOURCE_ROOTS:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    if not files:
        raise BuildError("no Scala sources found")
    return sorted(files)


def digest(files, jars):
    h = hashlib.sha256()
    h.update(" ".join(SCALAC_OPTS + sorted(os.listdir(jars))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=lambda m: print(m, file=sys.stderr, flush=True)):
    """Compiles unless the classes are current; returns the classes
    directory. Raises BuildError when the compiler fails."""
    jars = spark_jars()
    files = sources()
    want = digest(files, jars)
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read() == want:
                return CLASSES
    log(f"compiling {len(files)} Scala sources (first run in this checkout)")
    tmp = os.path.join(TARGET, "tmp")
    staging = os.path.join(TARGET, "classes.new")
    for d in (tmp, staging):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    args = os.path.join(TARGET, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(SCALAC_OPTS + ["-usejavacp", "-d", staging] + files) + "\n")
    # -usejavacp: the JVM expands the jars wildcard, and scalac compiles
    # against the same classpath it runs on
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "@" + args]
    try:
        p = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=COMPILE_CAP_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"scalac took longer than {COMPILE_CAP_S} s")
    if p.returncode != 0:
        raise BuildError(f"scalac failed with exit code {p.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(staging, CLASSES)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(want)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
