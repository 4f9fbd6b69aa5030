#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft engine.

Run from the root of a checkout:

    python3 layerbench/run.py --workload olap --seed 1 --seconds 15 --trace 0

Builds the runner together with the engine sources (sbt, offline) the first
time, then starts one JVM that runs the workload and prints one JSON object
as the last line of standard output. See layerbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
WORK = os.path.join(ROOT, ".bench_build", "layerbench")
JAR = os.path.join(HERE, "target", "scala-2.13", "layerbench.jar")
# Class-data-sharing archive of the classes a run loads, written by a
# training run at build time. It cuts a cold JVM's start by several seconds.
ARCHIVE = os.path.join(WORK, "classes.jsa")
STAMP = os.path.join(WORK, "build.stamp")
DATA = os.path.join(HERE, "data", "sf0.01")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 500
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[layerbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_hash():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(x for x in subdirs if x != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, env, timeout, stdout, cwd=None):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return proc.returncode, out


def java_cmd(env, tmp, *extra):
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else shutil.which("java")
    if not java:
        fail("java is not on PATH")
    return [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Duser.timezone=UTC", "-Xlog:disable",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "-Dspark.ui.enabled=false",
    ] + list(extra) + [
        "-cp", JAR + os.pathsep + os.path.join(env["SPARK_HOME"], "jars", "*"),
        "layerbench.Runner", "--data", DATA,
    ]


def build(env, tmp):
    want = source_hash()
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    opts = env.get("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g")
    benv = dict(env, COURSIER_MODE="offline", SBT_OPTS=opts)
    cmd = [sbt, "-batch", "-Dsbt.log.noformat=true", "package"]
    print("[layerbench] building runner and engine", file=sys.stderr)
    code, _ = run_bounded(cmd, benv, BUILD_TIMEOUT_S, sys.stderr, cwd=HERE)
    if code != 0:
        fail(f"build failed with exit code {code}")
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    train = java_cmd(env, tmp, f"-XX:ArchiveClassesAtExit={ARCHIVE}") + ["--train", "1"]
    code, _ = run_bounded(train, env, RUN_TIMEOUT_S, sys.stderr)
    if code != 0:
        fail(f"training run failed with exit code {code}")
    with open(STAMP, "w") as fh:
        fh.write(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["olap", "mining", "traj"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="write each key's row count and digest to this file")
    a = ap.parse_args()

    if not os.path.isfile(ENGINE):
        fail(f"engine sources not found next to the benchmark ({ENGINE})")
    env = dict(os.environ, SPARK_HOME=spark_home())
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    build(env, tmp)

    archive = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = java_cmd(env, tmp, *archive) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace),
    ]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    else:
        cmd += ["--expected", os.path.join(HERE, "expected.tsv")]
    code, out = run_bounded(cmd, dict(env, SPARK_LOCAL_DIRS=tmp), RUN_TIMEOUT_S, subprocess.PIPE)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        fail(f"runner exited with code {code}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(json.dumps(result))


if __name__ == "__main__":
    main()
