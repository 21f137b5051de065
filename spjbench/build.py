#!/usr/bin/env python3
"""Build the spatial-join benchmark: the engine's main sources plus the
benchmark's own sources, compiled in one scalac run against the Spark jars
in $SPARK_HOME/jars or, when SPARK_HOME is unset, in the jar directory
that build.sbt names (its `unmanagedBase`).

    python3 spjbench/build.py      # prints the class directory

The output lands in spjbench/out/classes and is rebuilt only when a source
file changes (a content hash of every source is kept next to it).
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
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.sha256")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
SCALA_VERSION = "2.13.17"


def spark_jars_dir():
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    return m.group(1) if m else "jars"


SPARK_JARS = spark_jars_dir()


class BuildError(Exception):
    pass


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"),
                              recursive=True))
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "engine",
                                       "SpatialJoin.scala")):
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"),
                             recursive=True))
    return engine + bench


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars in {SPARK_JARS} (set SPARK_HOME)")
    return jars


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure():
    """Compile if any source changed; return the class directory."""
    files = sources()
    jars = spark_classpath()
    want = digest(files)
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == want:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [os.path.join(SPARK_JARS, f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", CLASSES,
                            "-cp", os.pathsep.join(jars)] + files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=600)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return CLASSES


if __name__ == "__main__":
    try:
        print(ensure())
    except (BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"build failed: {e}")
