#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload events_bin4d --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds graft and the benchmark from source on first use (see build.py),
then runs one JVM per workload. The last line on stdout is the JSON result
`{"correct", "attempted", "failed", "metrics"}`; the per-metric table goes
to stderr. With `--workload all` every workload runs in turn and a table
of every metric with its unit, plus each workload's error rate, is printed
instead. Everything is read and written inside the checkout, under
`.bench_build/`.
"""

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["events_bin4d", "events_workflow", "text_curate"]
# One JVM run ends well within this; the build before the first run of a
# checkout is not counted against it.
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classpath, main, args):
    work = build.BUILD
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed young generation makes young collections, and so the
    # after-GC heap readings behind peak_heap_mb, regular in every run.
    return ([build.java(), "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:+UseG1GC",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={build.ROOT / 'perfbench' / 'log4j2.properties'}",
             "-Dspark.ui.enabled=false"]
            + opens + ["-cp", os.pathsep.join(classpath), main] + args)


def run_jvm(cmd, timeout, capture=True):
    """Run the JVM, relay its stderr, return (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, cwd=build.ROOT, text=True,
                            stdout=subprocess.PIPE if capture else None)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        sys.stderr.write(f"[perfbench] timed out after {timeout} s\n")
        return 124, []
    return proc.returncode, (out or "").splitlines()


def run_one(classpath, workload, seed, seconds, trace, timeout):
    cmd = jvm_command(classpath, "perfbench.Main", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", str(build.BUILD / "work")])
    code, lines = run_jvm(cmd, timeout)
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    return code, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests (generators and checks)")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"[perfbench] {e}\n")
        return 2

    if a.selftest:
        code, _ = run_jvm(jvm_command(classpath, "perfbench.SelfTest",
                                      ["--work", str(build.BUILD / "selftest")]), 600,
                          capture=False)
        return code

    if a.workload != "all":
        code, result = run_one(classpath, a.workload, a.seed, a.seconds, a.trace,
                               RUN_TIMEOUT_S)
        if code != 0 or result is None:
            sys.stderr.write(f"[perfbench] {a.workload} produced no result (exit {code})\n")
            return code or 1
        print(json.dumps(result))
        return 0

    rows, ok = [], True
    for w in WORKLOADS:
        code, result = run_one(classpath, w, a.seed, a.seconds, a.trace, RUN_TIMEOUT_S)
        if code != 0 or result is None:
            print(f"{w}: no result (exit {code})")
            ok = False
            continue
        ok &= bool(result["correct"])
        for k, m in result["metrics"].items():
            rows.append((w, k, m["value"], m["unit"]))
        rows.append((w, "error_rate", result["failed"] / result["attempted"], "ratio"))
        rows.append((w, "checks", 1.0 if result["correct"] else 0.0, "passed"))
    for w, k, v, u in rows:
        print(f"{w:<16} {k:<26} {v:>16.6f} {u}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
