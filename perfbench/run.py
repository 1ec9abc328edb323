"""Runs one workload of the graft benchmark in a fresh JVM and prints its
result as the last line of standard output.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 10 --trace 0

Builds the program from source on first use (see build.py). Exits non-zero,
without a result line, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build
import harness

JAVA_OPTS = [
    # one fixed heap, whatever the host has
    "-Xms2g", "-Xmx2g", "-Xss8m",
    "-Dspark.ui.enabled=false",
] + [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for arg in ("--add-opens", p + "=ALL-UNNAMED")]

RUN_TIMEOUT_S = 170


def run(workload, seed, seconds, trace):
    """Build, run one workload in a fresh JVM and return (plan, raw result)."""
    classes = build.build()
    work = os.path.join(build.OUT, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        plan = harness.make_plan(workload, seed, seconds, trace, work)
        plan_path = os.path.join(work, "plan.json")
        out_path = os.path.join(work, "result.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
        cmd = [build.java()] + JAVA_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                            "-cp", cp, "perfbench.Runner", plan_path, out_path]
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.exists(out_path):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: {workload} run failed ({code})")
        with open(out_path) as f:
            return plan, json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None):
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=harness.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="also write the traced run's spans to this JSON file")
    a = ap.parse_args(argv)
    expected = harness.load_expected_sql() if a.workload == "sql_mix" else None
    plan, result = run(a.workload, a.seed, a.seconds, a.trace)
    if a.spans:
        with open(a.spans, "w") as f:
            json.dump(result["spans"], f)
    line, report = harness.evaluate(plan, result, expected)
    print("\n".join(report))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
