#!/usr/bin/env python3
"""Repository benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source with sbt, then writes the JVM class-data-sharing archive every run
maps (once per source state; later runs reuse both), then runs one workload
in one JVM (perfbench.Main) and relays its output: the
last line of stdout is the run's JSON result. Everything the run writes
stays inside the checkout, under .perfbench_work/.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench_work"
JAR = BENCH / "target" / "perfbench.jar"
STAMP = WORK / "build.stamp"
# class-data-sharing archive of the classes a run loads, written by the
# build (one warm-up JVM, perfbench.Warmup, dumps it at exit): every run maps
# it instead of loading and verifying ~20k Spark classes again
CDS_ARCHIVE = WORK / "classes.jsa"
ENGINE = ROOT / "src" / "main" / "scala"
# a run is stopped after RUN_LIMIT_S; dedup_hotblock is not in
# BENCHMARK.json, and its traced run takes longer
RUN_LIMIT_S = 170
HAND_RUN_LIMIT_S = {"dedup_hotblock": 400}
BUILD_LIMIT_S = 500
# per-run scratch under WORK, emptied before and after every JVM
SCRATCH = ("spark-local", "tmp", "ckpt")

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark install found: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_digest():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ENGINE, BENCH / "src"):
        files += sorted(p for p in d.rglob("*.scala"))
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_child(cmd, limit_s, env, cwd, stdout):
    """Runs cmd in its own process group; kills the group past limit_s."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, start_new_session=True)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {limit_s} s and was stopped", 4)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def java_cmd(env, main_class, args, cds_flag):
    cp = os.pathsep.join([str(JAR), str(Path(env["SPARK_HOME"]) / "jars" / "*")])
    return (["java"]
            + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            # JVM messages go to stderr: the last stdout line is the result
            + ["-XX:+DisplayVMOutputToStderr", "-Xlog:disable", "-Xlog:all=warning:stderr",
               cds_flag]
            # no hsperfdata file in the system temp dir
            + ["-XX:-UsePerfData"]
            + [f"-Xmx{driver_heap_gb()}g", f"-Djava.io.tmpdir={WORK / 'tmp'}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, main_class] + args)


def fresh_scratch(env):
    for d in SCRATCH:
        shutil.rmtree(WORK / d, ignore_errors=True)
        (WORK / d).mkdir()
    env["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")


def clear_scratch():
    for d in SCRATCH:
        shutil.rmtree(WORK / d, ignore_errors=True)


def build(env, cores):
    digest = source_digest()
    if (JAR.is_file() and CDS_ARCHIVE.is_file() and STAMP.exists()
            and STAMP.read_text() == digest):
        return
    STAMP.unlink(missing_ok=True)
    CDS_ARCHIVE.unlink(missing_ok=True)
    if not shutil.which("sbt"):
        fail("sbt is needed to build the benchmark")
    sbt_env = dict(env)
    opts = sbt_env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        sbt_env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    sbt_env.setdefault("COURSIER_MODE", "offline")
    # every JVM sbt starts keeps its temp files (sbt's server socket) in the
    # checkout and writes no hsperfdata file to the system temp dir
    (WORK / "tmp").mkdir(exist_ok=True)
    sbt_env["JAVA_TOOL_OPTIONS"] = (sbt_env.get("JAVA_TOOL_OPTIONS", "") +
                                    f" -Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData").strip()
    t0 = time.time()
    # build log goes to stderr: the last stdout line belongs to the result
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                   BUILD_LIMIT_S, sbt_env, BENCH, sys.stderr)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})", 4)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    t0 = time.time()
    fresh_scratch(env)
    try:
        rc = run_child(java_cmd(env, "perfbench.Warmup",
                                ["--cores", str(cores), "--work-dir", str(WORK)],
                                f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"),
                       RUN_LIMIT_S, env, ROOT, sys.stderr)
    finally:
        clear_scratch()
    if rc != 0 or not CDS_ARCHIVE.is_file():
        fail(f"class archive warm-up failed (exit {rc})", 4)
    STAMP.write_text(digest)
    print(f"[perfbench] class archive written in {time.time() - t0:.1f} s", file=sys.stderr)


def driver_heap_gb():
    """The tier-1 test heap: half the machine's memory, clamped to 2..8 GiB,
    and at most 4 GiB here, since the inputs are small."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        gb = min(max(kb // 2097152, 2), 8)
    except (OSError, StopIteration, ValueError):
        gb = 2
    return min(gb, 4)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stop request unwinds through run_child, which stops the JVM's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ENGINE / "graft" / "Pipeline.scala").is_file():
        fail(f"engine sources not found under {ENGINE}: run from a full checkout")
    if not shutil.which("java"):
        fail("java is needed to run the benchmark")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    WORK.mkdir(exist_ok=True)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    build(env, cores)

    cmd = java_cmd(env, "perfbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--cores", str(cores), "--work-dir", str(WORK),
                    "--expected", str(BENCH / "expected_hashes.json")],
                   f"-XX:SharedArchiveFile={CDS_ARCHIVE}")
    fresh_scratch(env)
    sys.stdout.flush()
    try:
        rc = run_child(cmd, HAND_RUN_LIMIT_S.get(a.workload, RUN_LIMIT_S), env, ROOT, sys.stdout)
    finally:
        clear_scratch()
    sys.exit(rc)


if __name__ == "__main__":
    main()
