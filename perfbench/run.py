#!/usr/bin/env python3
"""Product-path benchmark for the graft code-graph engine.

    python3 perfbench/run.py --workload <browse|timetravel|gates_graph> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark (first
run only, see build.py), runs one workload in a fresh JVM, prints a table
of every metric on stderr and, as the last line of stdout, one JSON object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones; both are named
in BENCHMARK.json. The full record of the run (every metric, failures with
their exceptions, the seed, the host sentinel) is written to
<build dir>/results/<workload>-seed<n>-trace<t>.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["browse", "timetravel", "gates_graph"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


HERE = os.path.dirname(os.path.abspath(__file__))


def java_command(classes, work, main_class, args):
    """The JVM command line for one benchmark process; every temporary file
    it writes lands under `work`."""
    return (["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData"]
            + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
            + ["-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
               "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", classes + ":" + build.spark_jars() + "/*", main_class] + args)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    classes = build.build()
    root = build.build_dir()
    work = os.path.join(root, "work", f"{a.workload}-{os.getpid()}")
    results = os.path.join(root, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    out = os.path.join(work, "result.json")
    detail = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cmd = java_command(classes, work, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", out, "--detail", detail, "--bench-dir", HERE])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = "timeout"
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    try:
        with open(out) as fh:
            result = json.load(fh)
    except (OSError, ValueError):
        result = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or result is None:
        sys.exit(f"perfbench: workload {a.workload} did not finish (exit {code})")
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
