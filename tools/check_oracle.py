"""Local mirror of the driver's correctness harness.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 and compares it
to its ``oracle_sql()`` twin on DuckDB: row count, column-name set, and
an order-insensitive value hash (columns sorted by name, rows sorted by
their canonical string form). Prints per-query MATCH / MISMATCH /
ROWS_ONLY and exits non-zero on any mismatch.

Usage: python tools/check_oracle.py [--parallel[=N]] [query ...]   (default: all, serial)

``--parallel`` (default N=8) runs queries on a thread pool: each worker
collects the Spark side (concurrent job submission into the shared
local session — the scheduler interleaves stages across cores) and runs
the DuckDB twin on a per-thread connection. Results are buffered and
printed in declaration order, so output is byte-comparable with a
serial run. Full-suite wall time drops ~25 min -> ~6 min on this box.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
import data_pipeline_evolution_batch_streaming_apache_flink_spark as eng

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for r in canon_rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Dataframe-canon twin (r7 driver-red root cause — VERDICT r7 #1b)
#
# fetchall() returns exact Python values, so it cannot see type-level
# divergence that a pandas/Arrow fetch path (the driver's) surfaces:
# DuckDB HUGEINT/DECIMAL columns become float64 ("123.0" vs "123"), and
# an integer column containing NULLs promotes to float64 with NaN.
# promote_like_dataframe() applies those promotions to each side
# independently, exactly as pandas would, and the run compares BOTH
# hashes — mirror-green now implies driver-green for either fetch path.
# ---------------------------------------------------------------------------

_DUCK_FLOAT_FORCED = ("HUGEINT", "UHUGEINT", "DECIMAL", "UBIGINT")


def promote_like_dataframe(
    cols: list[str], rows: list[tuple], forced_float: set[str]
) -> list[tuple]:
    """Simulate a dataframe fetch: per column, values become float64 if
    the column's storage type exceeds int64 (``forced_float``) or it is
    an integer column containing NULLs (pandas promotion, None -> NaN)."""
    if not rows:
        return rows
    promote = []
    for i, c in enumerate(cols):
        vals = [r[i] for r in rows]
        is_int = any(isinstance(v, int) and not isinstance(v, bool) for v in vals)
        has_null = any(v is None for v in vals)
        promote.append(c in forced_float or (is_int and has_null))
    out = []
    for r in rows:
        out.append(tuple(
            (float("nan") if v is None else float(v)) if promote[i]
            and (v is None or isinstance(v, (int, float)))
            and not isinstance(v, bool) else v
            for i, v in enumerate(r)
        ))
    return out


_TLS = threading.local()


def _duck():
    con = getattr(_TLS, "con", None)
    if con is None:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        _TLS.con = con
    return con


def check_one(name, fn, oracles, spark) -> tuple[str, bool]:
    """Run one query + oracle; return (report line(s), failed)."""
    t0 = time.time()
    try:
        sdf = fn(spark, SF_DIR)
        scols = list(sdf.columns)
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        return (f"{name:28s} SPARK_ERROR {type(e).__name__}: {str(e).splitlines()[0][:160]}", True)
    if name not in oracles:
        line = f"{name:28s} ROWS_ONLY  rows={len(srows)}  ({time.time()-t0:.1f}s)"
        if len(srows) == 0:
            line += f"\n{'':28s} ^ warning: 0 rows"
        return (line, False)
    try:
        rel = _duck().sql(oracles[name])
        dcols = list(rel.columns)
        dtypes = [str(t) for t in rel.types]
        drows = rel.fetchall()
    except Exception as e:
        return (f"{name:28s} ORACLE_ERROR {str(e).splitlines()[0][:160]}", True)
    problems = []
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
    if len(srows) != len(drows):
        problems.append(f"rows spark={len(srows)} duck={len(drows)}")
    if not problems:
        sh, dh = table_hash(scols, srows), table_hash(dcols, drows)
        if sh != dh:
            sset = {tuple(canon(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows}
            dset = {tuple(canon(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i])) for r in drows}
            ex_s = list(sset - dset)[:2]
            ex_d = list(dset - sset)[:2]
            problems.append(f"hash spark_only={ex_s} duck_only={ex_d}")
        else:
            # The dataframe-canon twin: same comparison after each side
            # is promoted the way a pandas/Arrow fetch would promote it.
            forced = {c for c, t in zip(dcols, dtypes)
                      if any(t.startswith(ft) for ft in _DUCK_FLOAT_FORCED)}
            sh2 = table_hash(scols, promote_like_dataframe(scols, srows, set()))
            dh2 = table_hash(dcols, promote_like_dataframe(dcols, drows, forced))
            if sh2 != dh2:
                problems.append(
                    f"DFCANON hash diverges (fetchall matched): duck "
                    f"float-forced cols={sorted(forced)} — an over-int64 "
                    f"or NULL-promoted column formats differently via a "
                    f"dataframe fetch; CAST it at emission"
                )
    if problems:
        return (f"{name:28s} MISMATCH   {'; '.join(problems)[:500]}", True)
    return (f"{name:28s} MATCH      rows={len(srows)}  ({time.time()-t0:.1f}s)", False)


def main() -> int:
    args = sys.argv[1:]
    workers = 0
    for a in list(args):
        if a.startswith("--parallel"):
            workers = int(a.split("=", 1)[1]) if "=" in a else 8
            args.remove(a)
    only = set(args)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    spark = eng.get_spark("check-oracle", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    # --parallel shares ONE SparkSession across worker threads, so query
    # builders must not toggle session-global conf per-query.  The single
    # session conf any builder sets today is nanosAsLong (read_parquet in
    # sources/batch.py, also behind operators/layout.py — always to "true",
    # for TIMESTAMP(NANOS) columns); pre-set it here so those
    # writes are idempotent no-ops under the pool, and assert after the
    # run that nothing mutated the confs correctness depends on behind
    # the other threads' backs (the no-session-conf-mutation invariant
    # for query builders).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _GUARDED_CONFS = (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.session.timeZone",
        "spark.sql.shuffle.partitions",
        "spark.sql.ansi.enabled",
        "spark.sql.adaptive.enabled",
    )
    conf_before = {k: spark.conf.get(k, None) for k in _GUARDED_CONFS}

    todo = [(n, f) for n, f in qs.items() if not only or n in only]
    if workers > 1:
        with ThreadPoolExecutor(max_workers=workers) as pool:
            results = list(pool.map(lambda nf: check_one(nf[0], nf[1], oracles, spark), todo))
    else:
        results = [check_one(n, f, oracles, spark) for n, f in todo]

    conf_after = {k: spark.conf.get(k, None) for k in _GUARDED_CONFS}
    assert conf_after == conf_before, (
        f"a query builder mutated session conf during the run: "
        f"{ {k: (conf_before[k], conf_after[k]) for k in _GUARDED_CONFS if conf_before[k] != conf_after[k]} }"
    )

    failures = 0
    for line, failed in results:
        print(line)
        failures += failed

    print(f"\n{'FAIL' if failures else 'OK'}: {failures} failing")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
