#!/usr/bin/env python3
"""Build file of the bench: compiles the engine (src/main/scala) and the
bench (joinbench/src) with scalac into <build dir>/classes.

The compile is skipped when the sources, the compiler flags and the Spark
jar list hash to the stamp of the last build. Spark's jars come from
$SPARK_HOME/jars, or else from the `unmanagedBase` the project's build.sbt
declares.

    python3 joinbench/build.py            # prints the class directory
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
SCALAC_FLAGS = ["-nowarn", "-release", "17"]


def build_dir():
    """CARGO_TARGET_DIR when set (relative to the checkout), else .bench_build."""
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("joinbench: no Spark jars (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not any(p.endswith("/SparkEntry.scala") for p in engine):
        raise SystemExit("joinbench: engine sources (src/main/scala) not found")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return engine + bench


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def stamp():
    """Hash of the sources, the compiler flags and the Spark jar list."""
    h = hashlib.sha256()
    h.update(" ".join(SCALAC_FLAGS).encode())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    for p in sources():
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Returns the class directory, compiling first if the stamp is stale."""
    jars = spark_jars()
    srcs = sources()
    want = stamp()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
                                      glob.glob(os.path.join(jars, "scala-library-*.jar")) +
                                      glob.glob(os.path.join(jars, "scala-reflect-*.jar"))))
    args = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
            *SCALAC_FLAGS, "-d", tmp, "-classpath", os.path.join(jars, "*"), *srcs]
    print(f"joinbench: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(args, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("joinbench: compile failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(want)
    return out


if __name__ == "__main__":
    print(ensure_built())
