"""Measure how the two workloads warm up in one process: wall time of
consecutive ``pizzeria_batch`` passes (the first one cold) with the JIT
compiler's CPU time during each, then consecutive ``cdc_scenario6``
micro-batches of one snapshot-sized file each.

Usage (from the repository root, with the engine importable):

    PYTHONPATH=. SPARK_GRAFT_CPUS=$(nproc) SPARK_GRAFT_DRIVER_MEM=2g \\
        python3 perfbench/warmup_curve.py --passes 8 --batches 12 --out FILE

Run it from a scratch working directory: Spark leaves its warehouse and
derby.log in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_evolution_batch_streaming_apache_flink_spark import get_spark  # noqa: E402
from data_pipeline_evolution_batch_streaming_apache_flink_spark.plans import suite  # noqa: E402
from data_pipeline_evolution_batch_streaming_apache_flink_spark.plans.pizzeria_streaming import (  # noqa: E402
    ENVELOPE_SCHEMA,
    scenario6_engine,
)
from data_pipeline_evolution_batch_streaming_apache_flink_spark.sources.streaming import (  # noqa: E402
    json_file_stream,
)
from perfbench import batch, cdc, gen  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--passes", type=int, default=8)
    p.add_argument("--batches", type=int, default=12)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--out")
    opts = p.parse_args()
    spark = get_spark("perfbench-warmup")
    spark.sparkContext.setLogLevel("ERROR")
    rng = random.Random(opts.seed)
    curve = {"cpus": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count())),
             "nproc": len(os.sched_getaffinity(0)), "pass_s": [], "jit_s": [], "micro_batch_s": []}
    jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as root:
        data = os.path.join(root, "data")
        gen.write_tables(opts.seed, data)
        for _ in range(opts.passes):
            t, j = time.perf_counter(), jit.getTotalCompilationTime()
            for q in rng.sample(batch.QUERIES, len(batch.QUERIES)):
                suite.QUERIES[q](spark, data).write.format("noop").mode("overwrite").save()
            curve["pass_s"].append(time.perf_counter() - t)
            curve["jit_s"].append((jit.getTotalCompilationTime() - j) / 1e3)
            print("pass", curve["pass_s"][-1], "jit", curve["jit_s"][-1], flush=True)

        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir)
        for i, f in enumerate(gen.cdc_files(opts.seed, opts.batches, cdc.SNAPSHOT_ORDERS)):
            gen.write_cdc_file(f, os.path.join(in_dir, f"s{i:05d}.json"), 1_700_000_000 + i)
        engine = scenario6_engine(spark, os.path.join(root, "engine"))
        ends = []

        def timed(df, epoch_id):
            t = time.perf_counter()
            engine.foreach_batch(df, epoch_id)
            ends.append(time.perf_counter() - t)

        q = (json_file_stream(spark, in_dir, ENVELOPE_SCHEMA, max_files_per_trigger=1)
             .writeStream.foreachBatch(timed)
             .option("checkpointLocation", os.path.join(root, "engine", "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        curve["micro_batch_s"] = ends
        print("micro-batches", ends, flush=True)
    spark.stop()
    if opts.out:
        with open(opts.out, "w") as fh:
            json.dump(curve, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
