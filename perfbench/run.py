"""Benchmark entry point for the webcrawler_spark engine.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 15 --trace 0

Run from the repository root. This launcher starts one worker process
(``python3 -m perfbench.worker``) in its own session, samples the resident
memory of the worker's whole process tree (Python driver, Spark JVM, Python
UDF workers), enforces a hard deadline, stops every process the worker
started, and prints the worker's result as the LAST line of stdout:

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics, plus two measured here: ``spark.error_log_lines``
(ERROR lines in the Spark log) and ``process.peak_rss_mb``. Scratch files
live under ``.bench_work/`` and traces under ``.bench_out/`` in the
current directory. Without the engine sources next to ``perfbench/`` the
run fails with a non-zero exit and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

DEADLINE_S = 170.0  # every run must end within 180 s
POLL_S = 0.2


def session_pids(sid: int) -> list[int]:
    """Pids of every live process in session ``sid`` (the worker tree)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp session
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of the session; wait until none
    is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 5.0
        while session_pids(sid) and time.monotonic() < end:
            time.sleep(0.05)
    while session_pids(sid):
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_launch = time.monotonic()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "webcrawler_spark")):
        print("perfbench: run from the repository root (webcrawler_spark/ "
              "not found)", file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "spark.log")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "tmp"),
        # the short JVM spark-submit starts first would otherwise write
        # /tmp/hsperfdata_*; the driver JVM gets the same flag from worker.py
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", result_path, "--t0", repr(t_launch),
    ]
    # a SIGTERM to the launcher still stops the worker tree (finally below)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    peak = 0
    timed_out = False
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            end = time.monotonic() + DEADLINE_S
            while proc.poll() is None:
                if time.monotonic() > end:
                    timed_out = True
                    break
                if args.trace:
                    # scanning /proc costs CPU the timed run would share, so
                    # only the traced run samples memory
                    peak = max(peak, sum(rss_bytes(p) for p in session_pids(proc.pid)))
                time.sleep(POLL_S)
        finally:
            stop_session(proc.pid)
            proc.wait()

    with open(log_path, "rb") as f:
        log_lines = f.read().decode("utf-8", "replace").splitlines()
    if timed_out or proc.returncode != 0 or not os.path.exists(result_path):
        reason = "timed out" if timed_out else f"exit code {proc.returncode}"
        print(f"perfbench: worker failed ({reason}); last log lines:", file=sys.stderr)
        for line in log_lines[-40:]:
            print("  " + line, file=sys.stderr)
        return 1

    with open(result_path) as f:
        result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        errors = sum(1 for line in log_lines if " ERROR " in line)
        result["metrics"]["spark.error_log_lines"] = {"value": errors, "unit": "count"}
        result["metrics"]["process.peak_rss_mb"] = {"value": peak / 2**20, "unit": "MB"}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
