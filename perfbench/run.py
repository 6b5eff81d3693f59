#!/usr/bin/env python3
"""Benchmark of the graft ETL engine: one workload, one seed, one run.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program from the checkout's sources together with the
harness in perfbench/src (sbt, offline; rebuilt only when a source file
changes), starts one JVM with a local[nproc] Spark session and runs the
workload for `--seconds` seconds.

Workloads: lakehouse, corpus (see BENCHMARK.json).

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. A traced run
also writes its spans, per-layer table and run environment under
`.perfbench/out/`. Without the program's sources, or on any error, it
exits non-zero and prints no result.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

WORKLOADS = ("lakehouse", "corpus")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

BENCH = os.path.dirname(os.path.abspath(__file__))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    dirs = [os.path.join(root, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def build(root):
    """Compiles program + harness unless the stamp matches the sources;
    returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files(root):
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    want = digest.hexdigest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ)
    if not env.get("SPARK_HOME"):
        # the first spark-submit on PATH that sits in a Spark installation
        homes = [os.path.dirname(os.path.realpath(d)) for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if glob.glob(os.path.join(h, "jars", "spark-sql_*.jar"))]
        if not homes:
            fail("no Spark installation found: set SPARK_HOME")
        env["SPARK_HOME"] = homes[0]
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building program and harness", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(want + "\n")
    with open(cp_file) as cf:
        return cf.read().strip()


def heap():
    """Half of MemTotal, clamped to 2..8 GiB (the repository test command's rule)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="run every checked operation once and rewrite "
                         "perfbench/expected.json (only after the oracle passes)")
    args = ap.parse_args()
    if not args.record_expected and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "Run.scala")):
        fail(f"no program sources under {root}/src/main/scala; run from the repository root")
    data = os.path.join(BENCH, "data")
    expected = os.path.join(BENCH, "expected.json")
    for p in (os.path.join(data, "sf0.01"),) + \
            (() if args.record_expected else (expected,)):
        if not os.path.exists(p):
            fail(f"missing {p}")
    classpath = build(root)

    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, "work", f"{args.workload or 'record'}-{os.getpid()}")
    out = os.path.join(state, "out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["SPARK_GRAFT_IMPORT_DIR"] = os.path.join(work, "import")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap()}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--data", os.path.join(data, "sf0.01"),
            "--work", work, "--out", out]
    if args.record_expected:
        cmd += ["--record", expected]
        proc = subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(proc.returncode)
    cmd += ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--expected", expected]

    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    last = None
    try:
        lines = []

        def pump():
            for line in proc.stdout:
                lines.append(line)
        t = threading.Thread(target=pump, daemon=True)
        t.start()
        proc.wait(timeout=RUN_TIMEOUT_S)
        t.join(timeout=10)
        for line in lines[:-1]:
            sys.stdout.write(line)
        if lines:
            last = lines[-1].strip()
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    if proc.returncode != 0 or last is None:
        fail(f"harness exited with code {proc.returncode}")
    try:
        result = json.loads(last)
    except ValueError:
        fail(f"harness printed no result: {last[:200]}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {last[:200]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
