"""One benchmark run inside a fresh process (started by ``run.py``).

Usage: python3 perfbench/worker.py --workload NAME --seed N --seconds S --trace 0|1

Prints a record stamp line and, with ``--trace 1``, a per-query
breakdown line, then the result object as the last line of stdout.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import metrics  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Run:
    """State shared by a workload's phases: options, the Spark session,
    tracing switches and the result being built."""

    def __init__(self, opts):
        self.opts = opts
        self.seed = opts.seed
        self.seconds = opts.seconds
        self.trace = bool(opts.trace)
        self.t0 = float(os.environ.get("PERFBENCH_T0", time.time()))
        self.work = os.getcwd()
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.jvm_pid = None
        self.attempted = 0
        self.failed = 0
        self.e2e: dict = {}
        self.layers: dict = {}
        self.breakdown: dict = {}

    # -- session layer -----------------------------------------------------
    def start_session(self, cpus: int | None = None, event_log: bool | None = None):
        """``get_spark`` at ``cpus`` cores. ``event_log=False`` turns the
        event log off for this context (the JVM keeps the traced run's
        ``--conf`` as system properties)."""
        from data_pipeline_evolution_batch_streaming_apache_flink_spark import get_spark

        if event_log is not None and self.spark is not None:
            self.spark._jvm.java.lang.System.setProperty(
                "spark.eventLog.enabled", "true" if event_log else "false")
        self.spark = get_spark(f"perfbench-{self.opts.workload}", cpus=cpus or self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def stop_session(self):
        self.spark.stop()

    def peak_rss_mb(self) -> float:
        return metrics.peak_rss_mb([os.getpid(), self.jvm_pid])

    @contextlib.contextmanager
    def group(self, name: str):
        """Tag the Spark jobs of the enclosed calls with job group ``name``
        (traced runs only). The group sticks to the calling thread, so it
        is cleared on exit."""
        if not self.trace:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def event_log_dir(self) -> str:
        return os.path.join(self.work, "eventlog")

    # -- result ------------------------------------------------------------
    def record(self, ok: bool):
        self.attempted += 1
        if not ok:
            self.failed += 1

    def e2e_metric(self, name: str, value: float, unit: str):
        self.e2e[name] = {"value": float(value), "unit": unit}

    def layer(self, name: str, value: float, unit: str):
        self.layers[name] = {"value": float(value), "unit": unit}

    def result(self) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": self.layers if self.trace else self.e2e,
        }


def stamp(run: Run) -> dict:
    """Where and on what a record was taken."""
    import pyspark

    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
                             timeout=10, env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT)),
                             ).stdout.strip() or "unavailable"
    except OSError:
        sha = "unavailable"
    java = run.spark._jvm.java.lang.System.getProperty("java.version") if run.spark else None
    return {
        "workload": run.opts.workload, "seed": run.seed, "seconds": run.seconds,
        "trace": int(run.trace), "nproc": len(os.sched_getaffinity(0)), "cpus": run.cpus,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"), "git_sha": sha,
        "pyspark": pyspark.__version__, "java": java,
        "date": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=("pizzeria_batch", "cdc_scenario6"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    run = Run(p.parse_args())
    if run.opts.workload == "pizzeria_batch":
        from perfbench import batch as workload
    else:
        from perfbench import cdc as workload
    workload.run(run)
    print(json.dumps({"record": stamp(run)}))
    if run.trace:
        print(json.dumps({"breakdown": run.breakdown}))
    print(json.dumps(run.result()), flush=True)
    if run.spark is not None:
        run.stop_session()
    return 0


if __name__ == "__main__":
    sys.exit(main())
