#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload review_events --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use (see
build.py), then runs the workload in one JVM on local[n], n = min(4,
cores). The last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. `--self-test`
feeds every checker a wrong answer and exits 0 only if each rejects it.
The JVM's log goes to perfbench/out/logs/, traced spans to
perfbench/out/trace/.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("review_events", "dep_scan", "search_serve", "corpus_build")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A search_serve operation is mostly driver-side planning, and the C2
# compiler settles that code differently in each JVM: over five runs its
# op_p50_ms spread 0.30 with the default tiered JIT and 0.03 with C1
# alone, at about 1.65 times the time per operation.
JVM_FLAGS = {"search_serve": ["-XX:TieredStopAtLevel=1"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    try:
        cp = build.ensure_built()
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    out = os.path.join(HERE, "out")
    logs = os.path.join(out, "logs")
    os.makedirs(logs, exist_ok=True)
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = [build.java_bin(), "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:+UseG1GC"] + opens + \
        JVM_FLAGS.get(a.workload, []) + [
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.warehouse.dir=" + os.path.join(out, "warehouse"),
        "-cp", cp, "perfbench.Main",
        "--out", out, "--cores", str(cores)]
    if a.self_test:
        cmd += ["--self-test"]
        tag = "self-test"
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    with open(os.path.join(logs, tag + ".log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print("perfbench: timed out after %d s" % JVM_TIMEOUT_S, file=sys.stderr)
            return 1
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write("\n".join(lines[:-1] if lines else []) + "\n")
        print("perfbench: JVM exited with %d, see %s" % (proc.returncode, err.name), file=sys.stderr)
        return 1
    if a.self_test:
        print("\n".join(lines))
        return 0
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print("\n".join(lines[:-1]))
        print("perfbench: no result line from the JVM", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
