#!/usr/bin/env python3
"""Rollup/retention benchmark: one command for every workload.

    python3 perfbench/run.py --workload rollup_many_days --seed 1 \
        --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source (see build.py), runs one JVM
at local[<nproc / 2>] and prints, as the last line of standard output, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. All data lives in a
temporary directory under the build directory that is deleted on exit.
Exits non-zero when the build fails, an output is wrong, or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("rollup_many_days", "rollup_bulk", "serve_mixed")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    classes = build.build()
    os.makedirs(build.build_dir(), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=build.build_dir())
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + [x for p in ADD_OPENS
                      for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}"]
    if a.selftest:
        cmd += ["perfbench.SelfTest", "--work", work]
    else:
        cmd += ["perfbench.Main", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", result]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr,
                            start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("benchmark interrupted")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    try:
        if code is None:
            sys.exit(f"benchmark JVM killed after {JVM_TIMEOUT_S} s")
        if a.selftest:
            sys.exit(code)
        if not os.path.exists(result):
            sys.exit(f"benchmark JVM exited {code} without a result")
        with open(result) as fh:
            out = json.load(fh)
        for name, m in sorted(out["metrics"].items()):
            print(f"{name} = {m['value']} {m['unit']}")
        print(json.dumps(out))
        if code != 0 or not out["correct"]:
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
