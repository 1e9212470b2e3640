#!/usr/bin/env python3
"""Run one workload of the paper-pipeline benchmark.

    python3 perfbench/run.py --workload backfill|serve|append --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the benchmark from source (perfbench/build.py); later runs reuse the
build while the sources are unchanged. Build output, scratch stores and
traces go under $CARGO_TARGET_DIR (default .bench_build). The last line
of standard output is the result JSON.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402  (perfbench/build.py, beside this file)

WORKLOADS = ("backfill", "serve", "append")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    cp = build.classpath()
    out_dir = build.build_dir()

    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(out_dir, "work", name)
    local = os.path.join(out_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    # A fixed-size heap with a fixed young generation under the parallel
    # collector: resident memory then follows the old generation's high
    # water mark instead of the collector's heap-sizing decisions. Spark
    # generates classes as it plans, so a small initial metaspace would
    # trigger full collections in the timed window. Lower JIT thresholds
    # let the compiled code settle during the warm-up instead of well into
    # the timed window.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn640m", "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m",
           "-XX:Tier3InvocationThreshold=100", "-XX:Tier4InvocationThreshold=1000",
           "-XX:Tier4CompileThreshold=2000", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={local}",
        f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.driver.host=localhost",
        "-Dspark.driver.bindAddress=127.0.0.1",
        f"-Dspark.local.dir={local}",
        f"-Dspark.sql.warehouse.dir={os.path.join(out_dir, 'warehouse')}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", os.path.join(out_dir, "traces", name),
    ]
    try:
        code, out = build.run_bounded(cmd, build.ROOT, RUN_TIMEOUT_S, subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode(errors="replace").splitlines()
    result = None
    for line in lines:
        try:
            obj = json.loads(line)
        except ValueError:
            obj = None
        if isinstance(obj, dict) and "correct" in obj:
            result = line
        else:
            print(line)
    if code != 0 or result is None:
        raise SystemExit(f"[perfbench] benchmark exited with {code}, result {'missing' if result is None else 'present'}")
    print(result, flush=True)


if __name__ == "__main__":
    main()
