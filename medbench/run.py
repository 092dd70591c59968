"""Lakehouse benchmark runner.

    python3 medbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and harness if needed
(build.py), generates the seeded inputs (gen.py), runs one closed-loop run
in a fresh JVM (medbench.Main) and prints, as its last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`. The line
before it is a `{"diagnostic": ...}` object (host probe, versions, seed,
input size, per-phase set-up times). Exits non-zero if any output was incorrect
or the run failed. See README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("medallion_refresh", "silver_stream")
DEADLINE_S = 170

# -XX:-UsePerfData keeps the JVM from writing its counters outside the
# checkout. Spark 4 on JDK 17 needs the module openings when a session is
# created outside spark-submit (the list in the root build.sbt).
JVM_OPTS = ["-Xmx2g", "-Duser.timezone=UTC", "-XX:-UsePerfData"] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]

SOURCE_TABLES = ["customer", "nation", "region", "supplier", "orders",
                 "lineitem", "events"]


def fail(msg, code=2):
    sys.stderr.write(f"medbench: {msg}\n")
    sys.exit(code)


def run_jvm(cp, main, args, work, deadline):
    log_path = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java()] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, main] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # on a timeout, or when this script is itself stopped
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("timed out" if rc is None else f"JVM exited with {rc}", 3)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.1,
                    help="input scale factor (0.1 = sf0.1); tests use less")
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run's work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: engine sources (src/main/scala/graft) not found")
    cp = build.build(root)

    t0 = time.time()  # set-up starts here: the build is not set-up
    work = os.path.join(root, build.BUILD, "runs",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        if a.workload == "medallion_refresh":
            gen.generate(data, a.seed, a.scale, SOURCE_TABLES)
        out = os.path.join(work, "result.json")
        run_jvm(cp, "medbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", repr(a.scale), "--data", data, "--work", work,
            "--out", out, "--t0-ms", str(int(t0 * 1000))],
            work, t0 + DEADLINE_S)
        with open(out) as f:
            res = json.load(f)
        if a.trace:
            traces = os.path.join(root, build.BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            dst = os.path.join(traces, f"{a.workload}-s{a.seed}-{int(t0)}.json")
            shutil.copy(os.path.join(work, "trace.json"), dst)
            res["diagnostic"]["trace_file"] = os.path.relpath(dst, root)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"diagnostic": res["diagnostic"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
