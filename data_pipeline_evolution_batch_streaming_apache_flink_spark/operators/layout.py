"""Storage-layout optimization: Morton (Z-order) clustering for
multi-dimensional data skipping.

At 100 TB the scan you avoid is the fastest operator you have. Parquet
files carry per-column min/max statistics; a table sorted on ONE column
prunes only on that column, while a table sorted on the MORTON CODE of
two (or three) bucketized columns keeps per-file min/max ranges tight on
BOTH dimensions — a 2-D box predicate (user AND time window, the shape
of every reference query on ``events``) then skips most files. This is
the same layout idea as Delta/Iceberg ``OPTIMIZE ZORDER BY``,
implemented engine-side with nothing but column arithmetic.

Everything is bit math on JVM columns (``shiftleft`` / ``&`` / ``|``):
deterministic, codegen'd, reproducible by any engine with 64-bit
integers (the DuckDB oracle runs the identical expressions).

``zorder_write`` = compute z-value → ``repartitionByRange`` on it (one
range shuffle, same cost as any global sort) → sort within partitions →
write. File-skipping effectiveness is asserted from real parquet
footers in ``tests/test_layout.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["bucketize", "zvalue2", "zorder_write", "bucketed_table", "compact_files", "compact_partitioned", "manifest_stats", "read_pruned"]

#: magic-mask bit spread (16 bits -> even positions of 32), the classic
#: "Interleave bits by Binary Magic Numbers" construction (public
#: domain, Sean Eron Anderson's Bit Twiddling Hacks).
_SPREAD_MASKS: tuple[tuple[int, int], ...] = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def bucketize(col: Column | str, lo: float, hi: float, bits: int = 16) -> Column:
    """Map a numeric column into ``[0, 2^bits)`` by linear scaling over
    the caller-supplied bounds (bounds come from table stats or domain
    knowledge — no extra pass). Values outside the bounds clamp to the
    edge buckets; NULLs go to bucket 0. The double arithmetic is plain
    IEEE (multiply, floor) so external engines reproduce it exactly."""
    if hi <= lo:
        raise ValueError("bucketize needs hi > lo")
    c = F.col(col) if isinstance(col, str) else col
    n = 1 << bits
    scale = float(n) / (float(hi) - float(lo))
    raw = F.floor((c.cast("double") - F.lit(float(lo))) * F.lit(scale)).cast("long")
    return F.coalesce(F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1)), F.lit(0))


def _spread(x: Column) -> Column:
    """Spread the low 16 bits of ``x`` onto the even bit positions."""
    for shift, mask in _SPREAD_MASKS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zvalue2(xbucket: Column, ybucket: Column) -> Column:
    """Morton code of two 16-bit bucket ids (x in even bits, y in odd):
    points close in BOTH dimensions get close z-values, so a range sort
    on the z-value co-locates 2-D neighbourhoods into the same files."""
    return _spread(xbucket).bitwiseOR(F.shiftleft(_spread(ybucket), 1))


def zorder_write(
    df: DataFrame,
    path: str,
    dims: list[tuple[str, float, float]],
    num_files: int,
    bits: int = 16,
) -> None:
    """Write ``df`` as ``num_files`` parquet files clustered on the
    Morton code of two ``(col, lo, hi)`` dimensions. One range shuffle
    (sampled range boundaries keep files near-equal-sized even on skewed
    z distributions), then an in-partition sort so row groups inside
    each file are tight too."""
    if len(dims) != 2:
        raise ValueError("zorder_write interleaves exactly 2 dimensions")
    (xc, xlo, xhi), (yc, ylo, yhi) = dims
    z = zvalue2(bucketize(xc, xlo, xhi, bits), bucketize(yc, ylo, yhi, bits))
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def bucketed_table(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    sort: bool = True,
) -> DataFrame:
    """One-time bucketed materialization of ``df`` on a join key — the
    shuffle-once-join-many lever for ITERATIVE algorithms (pagerank /
    HITS / label propagation re-join the same edge list on the same key
    every round; a bucketed layout pays that key's exchange ONCE at
    write time and never again).

    ``df.repartition(buckets, key)`` uses the same Murmur3 hashing as
    the bucket spec, so each write task holds exactly one bucket and
    every bucket lands in ONE file — the layout Spark requires before
    it will also trust the ``sortBy`` order (many files per bucket
    demotes the scan to unsorted). Reading the returned table, the
    per-round join plans with NO Exchange (and with ``sort`` no Sort)
    on this side; only the small per-round score table moves.

    At 100 TB this is the difference between K iterations × an
    edge-list shuffle and K iterations × a node-table shuffle — the
    edge list is typically 10-100× the node table. Pair with
    ``pagerank(..., prelaid=True)`` / ``hits(..., prelaid=True)`` so
    the operators skip their internal re-pinning (a ``localCheckpoint``
    would erase the scan's distribution metadata).

    ``saveAsTable`` is required (bucket metadata lives in the
    catalog/metastore — plain ``.parquet(path)`` cannot carry it);
    the table is OVERWRITTEN if it exists.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = (
        df.repartition(buckets, F.col(key))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
    )
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)
    return spark.table(table)


def compact_files(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    mode: str = "coalesce",
) -> dict:
    """Small-file compaction for a parquet directory (Delta/Iceberg
    ``OPTIMIZE``-style bin packing, engine-side).

    Streaming sinks and fine-grained ingests leave thousands of KB-sized
    files; at scan time every file costs a task launch, a footer read,
    and an open/seek — on a 1000-executor cluster the driver's task
    scheduling becomes the bottleneck long before IO does. Compaction
    rewrites the directory to ``ceil(total_bytes / target_bytes)`` files.

    ``mode='coalesce'`` (default) concatenates input splits with NO
    shuffle — each output file is a bin of input files, the exact shape
    of Delta's OPTIMIZE bin-packing. ``mode='shuffle'`` pays one
    round-robin exchange for near-equal output sizes (use when input
    sizes are wildly skewed and downstream scans want even tasks).

    The rewrite lands in a temp sibling directory and is swapped in with
    two atomic renames, so a concurrent reader sees either the old or the
    new layout, never a mix. Row contents are byte-preserved (no sort is
    applied — use :func:`zorder_write` when re-clustering is the point).

    Returns ``{"files_before", "files_after", "bytes"}``.
    """
    import math
    import os
    import shutil

    if mode not in ("coalesce", "shuffle"):
        raise ValueError(f"mode must be 'coalesce' or 'shuffle', got {mode!r}")
    sizes = [
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]
    if not sizes:
        raise FileNotFoundError(f"no parquet files under {path}")
    total = sum(sizes)
    n_out = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    packed = df.coalesce(n_out) if mode == "coalesce" else df.repartition(n_out)
    tmp = path.rstrip("/") + ".__compact_tmp"
    packed.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".__compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = sum(
        1
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    return {"files_before": len(sizes), "files_after": after, "bytes": total}


def compact_partitioned(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    mode: str = "coalesce",
) -> dict:
    """Per-partition small-file compaction for a Hive-partitioned table
    (``path/key=value/...``) — the realistic production shape: a
    streaming sink drips files into today's date partition while old
    partitions are already well-packed, so compaction must (a) size each
    partition's bins independently and (b) leave untouched partitions'
    files alone (object stores bill per request; rewriting cold data is
    pure cost).

    Walks one level of ``key=value`` directories and applies
    :func:`compact_files` to each whose file count could shrink —
    partitions already at or under their bin count are skipped entirely.
    Each partition swaps atomically on its own; a failure mid-table
    leaves every completed partition valid (idempotent to re-run).

    Returns ``{"partitions", "compacted", "files_before", "files_after"}``.
    """
    import math
    import os

    parts = sorted(
        d for d in os.listdir(path)
        if "=" in d and os.path.isdir(os.path.join(path, d))
    )
    if not parts:
        raise FileNotFoundError(f"no key=value partition directories under {path}")
    stats = {"partitions": len(parts), "compacted": 0, "files_before": 0, "files_after": 0}
    for d in parts:
        pdir = os.path.join(path, d)
        sizes = [
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(pdir)
            for f in files
            if f.endswith(".parquet")
        ]
        if not sizes:
            continue
        n_out = max(1, math.ceil(sum(sizes) / target_bytes))
        stats["files_before"] += len(sizes)
        if len(sizes) <= n_out:
            stats["files_after"] += len(sizes)
            continue
        r = compact_files(spark, pdir, target_bytes, mode)
        stats["compacted"] += 1
        stats["files_after"] += r["files_after"]
    return stats


def manifest_stats(spark, path: str, columns: list[str]) -> DataFrame:
    """Per-file min/max/null-count manifest for a parquet directory —
    the data-skipping index Delta keeps in its transaction log and
    Iceberg in manifest files, built engine-side with one aggregation.

    One scan of the listed columns grouped by ``input_file_name()``
    produces, per file: ``n_rows`` plus ``min_<c>``, ``max_<c>``,
    ``nulls_<c>`` for every requested column (min/max ignore nulls, the
    parquet-stats convention). Build it ONCE after a write/compaction,
    persist it next to the data, and every subsequent range query can
    prune files without touching their footers — at 100 TB the manifest
    is ~one row per file (KBs per TB), while the scan it avoids is the
    single largest cost in the system.

    Scale shape: map-side combine into ≤ n_files groups — the shuffle
    carries one partial row per (task, file). Column pruning applies:
    only ``columns`` are read.
    """
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.sources.batch import read_parquet

    df = read_parquet(spark, path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}"),
        ]
    return (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
    )


def read_pruned(
    spark,
    path: str,
    manifest: DataFrame,
    ranges: dict[str, tuple],
) -> DataFrame:
    """Range-predicate read that opens ONLY the files whose manifest
    interval intersects the predicate — file-level skipping on top of
    (not instead of) parquet's own row-group stats.

    ``ranges`` maps column -> (lo, hi), inclusive; ``None`` bounds are
    open-ended. A file qualifies when every predicate interval
    intersects its ``[min_<c>, max_<c>]``; files that are all-null in a
    predicate column cannot match a range comparison and are skipped
    (their manifest min/max are NULL — the null-safe guard below keeps
    them out without special cases). The residual row filter is still
    applied, so correctness never depends on manifest freshness FOR
    PRUNED-IN files — a STALE manifest may prune out files with new
    matching rows; rebuild after writes (same contract as any
    stats-based skipping index).

    The surviving file list round-trips through the driver — bounded by
    the file count you were about to hand the scheduler anyway (the
    same order of driver state as Delta's log replay). Empty survivor
    set returns an empty DataFrame with the source schema.
    """
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.sources.batch import _footer_schema, _read

    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            cond = cond & (F.col(f"max_{c}") >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(f"min_{c}") <= F.lit(hi))
    files = [r["file"] for r in manifest.where(cond).select("file").collect()]
    # read_parquet's footer schema and nano normalization, from the
    # directory's footer (per-file schemas are identical by contract)
    schema, nano_cols = _footer_schema(spark, path)
    if not files:
        return _read(spark, schema, nano_cols, path).limit(0)
    out = _read(spark, schema, nano_cols, *files)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            out = out.where(F.col(c) >= F.lit(lo))
        if hi is not None:
            out = out.where(F.col(c) <= F.lit(hi))
    return out
