"""Pure helpers shared by the workloads: percentiles, spreads, memory
high-water marks and the due-time latency of arriving orders.

Nothing here touches Spark, so ``perfbench/tests`` checks it directly.
"""

from __future__ import annotations

import math
import re
import statistics


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0..100) with linear interpolation between
    closest ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def spread(values) -> dict:
    """Median, quartiles and the quartile distance as a share of the
    median, computed as ``statistics.quantiles(values, n=4)`` does."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / abs(med) if med else math.inf}


def vmhwm_kb(status_text: str) -> int:
    """Peak resident set size (``VmHWM``, kB) from a ``/proc/<pid>/status``
    text."""
    m = re.search(r"^VmHWM:\s+(\d+)\s+kB", status_text, re.M)
    if m is None:
        raise ValueError("no VmHWM line")
    return int(m.group(1))


def peak_rss_mb(pids) -> float:
    """Sum of ``VmHWM`` over ``pids``, in MiB."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total += vmhwm_kb(fh.read())
    return total / 1024.0


_EPOCH_DIR = re.compile(r"/e(\d{10})/")


def epoch_of_path(path: str) -> int:
    """Micro-batch id of a file the incremental engine wrote: it writes
    each epoch into its own ``e<10 digits>`` directory."""
    m = _EPOCH_DIR.search(path)
    if m is None:
        raise ValueError(f"no epoch directory in {path}")
    return int(m.group(1))


def order_latencies(emitted_epoch: dict, epoch_end: dict, due: dict) -> dict:
    """Per order: seconds from the due time of the file that carried it to
    the end of the micro-batch that wrote its output row.

    ``emitted_epoch`` maps order id to epoch, ``epoch_end`` epoch to wall
    clock end, ``due`` order id to wall clock due time. Orders in ``due``
    but never emitted are left out; the caller counts them as failed.
    """
    return {o: epoch_end[emitted_epoch[o]] - t for o, t in due.items() if o in emitted_epoch}


def first_inclusion(reads, needs: dict) -> dict:
    """Per key of ``needs``, the index of the first run whose set of files
    read (``reads[k]``) holds every file in ``needs[key]``. Keys that no
    run covered are left out; the caller counts them as failed."""
    out = {}
    for key, files in needs.items():
        k = next((k for k, read in enumerate(reads) if files <= read), None)
        if k is not None:
            out[key] = k
    return out


def emit_ratio(consumed_epoch: dict, emitted_epoch: dict) -> float:
    """Share of consumed orders emitted by the same micro-batch that
    consumed them."""
    if not consumed_epoch:
        return 0.0
    same = sum(1 for o, e in consumed_epoch.items() if emitted_epoch.get(o) == e)
    return same / len(consumed_epoch)
