#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage (from the root of the checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: weather_etl, weather_serve, registry_headlines (see
perfbench/README.md). The first run compiles the engine's sources together
with the benchmark's (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. The JVM is started directly, at
local[<cores>], and its last stdout line -- one JSON object with
`correct`, `attempted`, `failed` and `metrics` -- is the result.
Run data lives under .bench_build/perfbench/ and is removed afterwards;
the JVM's stderr of the last run of each workload and a traced run's span
file stay there.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
CP_FILE = os.path.join(BENCH, "target", "cp.txt")
STAMP = os.path.join(STATE, "build.stamp")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every source the build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the distribution that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark distribution not found; set SPARK_HOME")
    return home


def build():
    stamp = source_stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportCp"],
                             cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        code = wait(p, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(CP_FILE):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def wait(p, timeout):
    """Waits for `p`; on timeout kills its whole process group."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["weather_etl", "weather_serve", "registry_headlines"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--dump", help="also write each headline's result and digest for tools/oracle_check.py")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from the root of the checkout")
    os.makedirs(STATE, exist_ok=True)
    build()

    with open(CP_FILE) as fh:
        cp = ":".join(line.strip() for line in fh if line.strip())
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--data", os.path.join(BENCH, "data")]
    if a.dump:
        cmd += ["--dump", os.path.abspath(a.dump)]
    err_log = os.path.join(STATE, f"{a.workload}.stderr")
    try:
        with open(err_log, "w") as err:
            p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                 stderr=err, text=True, start_new_session=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
                code = p.returncode
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                out, _ = p.communicate()
                code = -9
        lines = [l for l in out.splitlines() if l.strip()]
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if code != 0 or not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
            with open(err_log) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            fail(f"workload run failed (exit {code})")
        for l in lines:
            print(l)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
