#!/usr/bin/env python3
"""End-to-end benchmark of the engine: builds it from this checkout, runs
one workload in a fresh JVM at local[nproc], checks its outputs and
prints two JSON lines, the workload's figures by name and then the result.

    python3 e2ebench/run.py --workload pipeline|gates --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads, metrics and the rules behind
them are described in e2ebench/METRICS.md.
"""
import argparse
import fcntl
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing but results lands in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline", "gates")
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# A run must end within 180 s of its build; the JVM gets what is left.
DEADLINE_S = 170
BUILD_TIMEOUT_S = 800


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compile engine + benchmark with sbt unless this checkout's sources
    were already compiled. Returns the JVM classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from a checkout root")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "e2ebench.stamp")
    stamp = json.dumps([(f, os.path.getsize(f), os.path.getmtime(f)) for f in sources()])
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(os.path.join(HERE, "target", "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
            env = dict(os.environ, COURSIER_MODE="offline")
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
            log = os.path.join(HERE, "target", "build.log")
            with open(log, "w") as out:
                rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            if rc != 0:
                sys.stderr.write(open(log).read()[-4000:])
                fail(f"build failed (sbt exit {rc}); log in {log}")
            with open(stamp_file, "w") as f:
                f.write(stamp)
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    return f"{classes}:{spark_jars}"


def jvm(classpath, run_dir, args, deadline):
    """Run the benchmark JVM; its stdout and stderr (Spark's logs) go to a
    log file, never to the result stream."""
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/spark-local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dderby.system.home={run_dir}/derby",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "e2ebench.Main"] + args
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(run_dir, "graft-index"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main():
    # a terminated run unwinds, so the JVM and the work dir go with it
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    classpath = build()
    deadline = time.time() + DEADLINE_S
    run_dir = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0_ms = int(time.time() * 1000)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", os.path.join(run_dir, "work"),
                "--out", os.path.join(run_dir, "outcome.json"), "--t0-ms", str(t0_ms)]
        data = os.path.join(run_dir, "data")
        if a.workload == "gates":
            import tables
            tables.generate(data, a.seed)
            args += ["--data", data]
        rc = jvm(classpath, run_dir, args, deadline)
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as log:
            sys.stderr.writelines(l for l in log if l.startswith("e2ebench:"))
        if rc != 0:
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-6000:])
            fail("benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"))
        out = json.load(open(os.path.join(run_dir, "outcome.json")))
        checks = out["checks"]
        if a.workload == "gates":
            import oracle
            verdicts = oracle.check(data, os.path.join(run_dir, "work", "gate_results"))
            checks += [{"name": f"oracle:{n}", "ok": ok, "why": why} for n, ok, why in verdicts]
            out["attempted"] += len(verdicts)
            out["failed"] += sum(1 for _, ok, _ in verdicts if not ok)
        for c in checks:
            if not c["ok"]:
                print(f"e2ebench: check {c['name']} failed: {c['why']}", file=sys.stderr)
        print(json.dumps({"workload": a.workload, "seed": a.seed, "detail": out["detail"]}))
        print(json.dumps({"correct": out["failed"] == 0 and all(c["ok"] for c in checks),
                          "attempted": out["attempted"], "failed": out["failed"],
                          "metrics": out["metrics"]}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
