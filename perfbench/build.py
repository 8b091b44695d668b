#!/usr/bin/env python3
"""Build file of the rollup/retention benchmark.

Compiles the engine (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`) with the Scala compiler that ships among the jars
of the Spark install, into `<build dir>/classes`. The build is skipped when
a stamp of every source file's path and content hash matches the last one.

    python3 perfbench/build.py            # build into .bench_build
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"


def spark_jars():
    """The jars dir of the Spark install: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: no Spark install (set SPARK_HOME)")
    return os.path.join(home, "jars")


def repo_root():
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    return os.path.join(repo_root(),
                        os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    root = repo_root()
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"),
                             recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    if not bench:
        raise SystemExit("build: no benchmark sources under perfbench/src")
    return engine + bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compiler_classpath():
    jars = [os.path.join(spark_jars(), f"scala-{m}-{SCALA_VERSION}.jar")
            for m in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.exists(j)]
    if missing:
        raise SystemExit(f"build: missing Scala compiler jars {missing}")
    return ":".join(jars)


def build():
    """Compile if stale; returns the classes directory."""
    files = sources()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    want = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.path.join(spark_jars(), "*")] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return out


if __name__ == "__main__":
    print(build())
