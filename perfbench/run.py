"""Benchmark entry point: runs one workload in a fresh worker process.

Usage (from the repository root):

    python3 perfbench/run.py --workload pizzeria_batch --seed 1 --seconds 25 --trace 0

Workloads: ``pizzeria_batch``, ``cdc_scenario6`` (see perfbench/README.md).
The last line of stdout is the result object; ``--trace 1`` reports the
per-layer metrics instead of the end-to-end ones.

The worker runs with its working directory under ``.perfbench_work/``
in the repository (Spark local dirs, warehouse, derby.log, temp files
and the event log all land there, and the directory is removed
afterwards), with the repository root on ``PYTHONPATH`` so Python UDF
workers import the engine, and with the core count and driver memory
pinned. The worker and every process it starts share one process group,
which is stopped before this script exits.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("pizzeria_batch", "cdc_scenario6")
DRIVER_MEM = "2g"
TIMEOUT_S = 170
ENGINE = "data_pipeline_evolution_batch_streaming_apache_flink_spark"


def _group_alive(pgid: int) -> bool:
    """Whether any process of group ``pgid`` is still running (zombies
    waiting for their reaper do not count)."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _stop_group(pgid: int) -> None:
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        deadline = time.time() + grace
        while _group_alive(pgid) and time.time() < deadline:
            time.sleep(0.1)
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
    while _group_alive(pgid):
        time.sleep(0.1)


def main() -> int:
    t0 = time.time()
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    opts = p.parse_args()
    for need in (ENGINE, "__spark_entry__.py", os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{opts.workload}-{opts.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = ["--driver-java-options", java_opts]
    if opts.trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        for k, v in (("spark.eventLog.enabled", "true"), ("spark.eventLog.dir", f"file://{log_dir}"),
                     ("spark.eventLog.compress", "false"), ("spark.eventLog.rolling.enabled", "true")):
            submit += ["--conf", f"{k}={v}"]
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        PERFBENCH_T0=repr(t0),
    )
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"),
           "--workload", opts.workload, "--seed", str(opts.seed),
           "--seconds", str(opts.seconds), "--trace", str(opts.trace)]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    # the worker's whole process group dies if it overruns
    watchdog = threading.Timer(TIMEOUT_S - (time.time() - t0), os.killpg, (proc.pid, signal.SIGKILL))
    watchdog.start()
    try:
        lines = [line.rstrip("\n") for line in proc.stdout]
        code = proc.wait()
    finally:
        watchdog.cancel()
        proc.stdout.close()
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        print("\n".join(lines[-20:]), file=sys.stderr)
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
