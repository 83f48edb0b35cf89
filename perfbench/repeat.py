"""Run one workload over several seeds and print each end-to-end metric's
median, quartiles and quartile distance as a share of the median.

Usage (from the repository root):

    python3 perfbench/repeat.py --workload pizzeria_batch --seeds 1-10 [--out FILE]

Each run is ``perfbench/run.py`` with the ``run_seconds`` of
BENCHMARK.json; ``--out`` saves every run's result and the table as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import metrics  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out")
    opts = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    runs = []
    for seed in seeds(opts.seeds):
        cmd = [sys.executable, os.path.join(ROOT, *bench["command"][1:]), "--workload", opts.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        record = next((json.loads(x)["record"] for x in lines if x.startswith('{"record"')), None)
        runs.append({"seed": seed, "record": record, "result": result})
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    table = {}
    for name in runs[0]["result"]["metrics"]:
        table[name] = metrics.spread([r["result"]["metrics"][name]["value"] for r in runs])
        t = table[name]
        print(f"{name:28s} median={t['median']:.4g} q1={t['q1']:.4g} q3={t['q3']:.4g} "
              f"iqr/median={t['iqr_share']:.3f}")
    if opts.out:
        with open(opts.out, "w") as fh:
            json.dump({"workload": opts.workload, "runs": runs, "spread": table}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
