#!/usr/bin/env python3
"""Lifecycle benchmark entry point.

    python3 lifebench/run.py --workload fda_cold --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark program if needed (lifebench/build.py), runs the
workload in one JVM (Spark at local[2]), and prints as its last line one JSON
object: correct, attempted, failed and metrics. With --trace 0 the
metrics are the end-to-end ones (peak_rss_mb is the JVM's peak resident
set, read here from the child's rusage); with --trace 1 they are the
per-layer ones from the traced run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("fda_cold", "daily_tick", "pdf_enrich")
HEAP = "2g"
YOUNG = "192m"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (the wait below kills it)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes, jars = build.build()
    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    log_file = os.path.join(work, "jvm.log")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # The heap grows as the program uses it, so peak RSS follows what
    # survives collection and off-heap memory. The young generation is
    # fixed: sized by G1's pause-time heuristics, it made peak RSS read
    # 1.2-1.6 GB across runs of one workload.
    cmd += [f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
            "lifebench.LifeBench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", result_file]
    try:
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                _, status, usage = os.wait4(proc.pid, 0)
            except BaseException:
                proc.kill()
                proc.wait()
                raise
            proc.returncode = os.waitstatus_to_exitcode(status)
        if proc.returncode != 0 or not os.path.exists(result_file):
            with open(log_file) as fh:
                sys.stderr.write(fh.read()[-8000:])
            sys.exit(f"lifebench: JVM exited with {proc.returncode}")
        with open(log_file) as fh:
            for line in fh:
                if line.startswith(("CHECK FAILED", "op ", "phase ", "setups_s ")):
                    sys.stderr.write(line)
        with open(result_file) as fh:
            result = json.load(fh)
        if a.trace == 0:
            # ru_maxrss is in KiB on Linux
            result["metrics"]["peak_rss_mb"] = {"value": usage.ru_maxrss / 1024.0, "unit": "MB"}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()
