#!/usr/bin/env python3
"""Build the engine and the queue benchmark from source with scalac.

    python3 qbench/build.py          compile (skipped when sources are unchanged)
    python3 qbench/build.py test     compile and run the benchmark's helper tests

The engine (src/main/scala) and the benchmark (qbench/src/main/scala) are
compiled together into .bench_build/qbench/classes. The Spark jar directory
is the one the repository's build.sbt names as `unmanagedBase`, or
$SPARK_HOME/jars.
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
OUT = os.path.join(ROOT, ".bench_build", "qbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.sha256")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TEST_SRC = os.path.join(HERE, "src", "test", "scala")

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (same list as the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: build.sbt's unmanagedBase, else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def scala_files(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def resources():
    return sorted(p for p in glob.glob(os.path.join(ENGINE_RES, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def sources():
    engine = scala_files(ENGINE_SRC)
    bench = scala_files(BENCH_SRC)
    if not engine:
        raise BuildError("engine sources not found under " + ENGINE_SRC)
    if not bench:
        raise BuildError("benchmark sources not found under " + BENCH_SRC)
    return engine + bench


def digest(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(files, out, classpath):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise BuildError("scalac failed")


def build():
    """Compile engine + benchmark unless the classes match the sources.
    Returns (classpath for running, source digest)."""
    files = sources()
    sha = digest(files + resources())
    cp = CLASSES + os.pathsep + os.path.join(spark_jars(), "*")
    if os.path.exists(STAMP) and open(STAMP).read() == sha and os.path.isdir(CLASSES):
        return cp, sha
    sys.stderr.write("[qbench] compiling %d sources\n" % len(files))
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    scalac(files, tmp, os.path.join(spark_jars(), "*"))
    # service registrations (the `ripple` data source) ship as resources
    for p in resources():
        dst = os.path.join(tmp, os.path.relpath(p, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(sha)
    return cp, sha


def test():
    cp, _ = build()
    out = os.path.join(OUT, "test-classes")
    shutil.rmtree(out, ignore_errors=True)
    scalac(scala_files(TEST_SRC), out, cp)
    return subprocess.run(["java", "-XX:-UsePerfData"] + JVM_OPENS + ["-cp", out + os.pathsep + cp,
                          "graft.qbench.HelpersTest"]).returncode


if __name__ == "__main__":
    try:
        if sys.argv[1:] == ["test"]:
            sys.exit(test())
        build()
    except BuildError as e:
        sys.stderr.write("[qbench] build failed: %s\n" % e)
        sys.exit(2)
