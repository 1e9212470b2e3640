#!/usr/bin/env python3
"""Build the program and the benchmark from source; print the classpath.

    python3 perfbench/build.py

Run from the root of a checkout. The program's sources (src/main/scala)
are compiled against the Spark jars that the program's own build.sbt
names as its `unmanagedBase`, with the Scala compiler those jars ship;
the compiler version must be the build's `scalaVersion`. The benchmark's
sources (perfbench/src) are then compiled against the program. No build
tool starts and no dependency is resolved, so the build reads only the
checkout, the JDK and the Spark jars, and writes only under
$CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench). A build is
reused while the files it was made from are unchanged.
"""
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per compiler run; two runs and one benchmark run stay within 900 s
BUILD_TIMEOUT_S = 350
# the benchmark's own sources also get the unused-code lint
BENCH_SCALAC_OPTS = ["-deprecation", "-feature", "-Wunused:imports,privates,locals"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def stop(signum, _frame):
    raise SystemExit(f"[perfbench] stopped by signal {signum}")


def run_bounded(cmd, cwd, timeout, stdout):
    """run cmd in its own process group; kill the group on timeout, or
    when this process is told to stop"""
    signal.signal(signal.SIGTERM, stop)
    proc = subprocess.Popen(cmd, cwd=cwd, stdin=subprocess.DEVNULL, stdout=stdout,
                            stderr=sys.stderr, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(f"[perfbench] timed out after {timeout}s: {cmd[0]}")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def sources(d):
    return sorted(os.path.join(p, f) for p, _, fs in os.walk(d) for f in fs if f.endswith(".scala"))


def build_setting(text, key):
    m = re.search(key + r'\s*:=\s*(?:file\()?"([^"]+)"', text)
    return m.group(1) if m else None


def spark_jars(build_sbt):
    """the jar directory the program builds against; it must ship the
    Scala compiler of the program's Scala version"""
    with open(build_sbt) as f:
        text = f.read()
    scala = build_setting(text, r"scalaVersion")
    jars = build_setting(text, r"unmanagedBase")
    if not scala or not jars or not os.path.isdir(jars):
        raise SystemExit("[perfbench] build.sbt names no scalaVersion or no Spark jar directory")
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{scala}.jar")):
        raise SystemExit(f"[perfbench] {jars} holds no Scala {scala} compiler")
    return os.path.abspath(jars)


def stamp(files):
    """hash of every file the build reads from the checkout"""
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, out, srcs, opts, tmp):
    """compile srcs into a fresh out directory"""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = os.path.join(tmp, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-usejavacp",
           "-encoding", "UTF-8", *opts,
           *(["-classpath", os.pathsep.join(classpath)] if classpath else []), "-d", out, f"@{args}"]
    code, _ = run_bounded(cmd, ROOT, BUILD_TIMEOUT_S, sys.stderr)
    if code != 0:
        raise SystemExit(f"[perfbench] compiling {os.path.relpath(srcs[0], ROOT)} and "
                         f"{len(srcs) - 1} more failed (exit {code})")


def classpath():
    """build once per source state; returns the runtime classpath"""
    build_sbt = os.path.join(ROOT, "build.sbt")
    program = os.path.join(ROOT, "src", "main", "scala")
    if not (os.path.isfile(build_sbt) and os.path.isdir(program)):
        raise SystemExit("[perfbench] run from a checkout of the repository: "
                         "the program's sources and build.sbt are missing")
    build = build_dir()
    jars = spark_jars(build_sbt)
    main_out, bench_out = os.path.join(build, "classes", "main"), os.path.join(build, "classes", "bench")
    main_src, bench_src = sources(program), sources(os.path.join(HERE, "src"))
    cp = os.pathsep.join([bench_out, main_out, os.path.join(jars, "*")])
    key = stamp([build_sbt, os.path.abspath(__file__), *main_src, *bench_src]) + " " + jars
    cp_file = os.path.join(build, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            if f.read().split("\n", 1)[0] == key and os.path.isdir(bench_out):
                return cp
        os.remove(cp_file)
    log(f"compiling the program ({len(main_src)} files) and the benchmark ({len(bench_src)} files)")
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    scalac(jars, [], main_out, main_src, [], tmp)
    scalac(jars, [main_out], bench_out, bench_src, BENCH_SCALAC_OPTS, tmp)
    with open(cp_file, "w") as f:
        f.write(key + "\n" + cp + "\n")
    return cp


if __name__ == "__main__":
    print(classpath())
