#!/usr/bin/env python3
"""Merge-pipeline and query-mix benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload drift_compact_csv --seed 1 --seconds 25 --trace 0

Builds the program together with the benchmark driver (perfbench/build.sbt,
only when a source changed), then runs one workload in one JVM. The last
line of standard output is the result JSON. Generated inputs live under
.bench_work/ and are removed at exit; traced runs leave their span and
per-layer files under .bench_out/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ["drift_compact_csv", "ops_queries"]
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
# The sf0.1 tables every workload is derived from (read only).
SOURCE_TABLES = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
# One client at a time on at most this many local cores.
MAX_CORES = 4
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find the Spark installation (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{os.path.basename(cmd[0])} did not finish within {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(env):
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(env)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    rc = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                     cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def heap():
    """The tier-1 test heap rule: half of physical memory, 2g to 8g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def main():
    # A terminated launcher still stops the JVM and removes the work area.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "core", "Merge.scala")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, os.getcwd())}")
    if not os.path.isfile(os.path.join(SOURCE_TABLES, "lineitem.parquet")):
        fail("source tables not found: expected ~/testdata/sf0.1/<table>.parquet")
    home = spark_home()
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_HOME"] = home  # build.sbt takes the Spark jars from here
    build(env)

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(os.path.join(work, "tmp"))
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", f"{CLASSES}{os.pathsep}{os.path.join(home, 'jars', '*')}",
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--source", SOURCE_TABLES, "--work", work, "--out", out,
        "--cores", str(cores), "--expected", os.path.join(HERE, "ops_expected.tsv")])
    try:
        rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    sys.exit(rc)


if __name__ == "__main__":
    main()
