"""Registry census: run every registered query through Spark and its
DuckDB oracle, compare them (order-insensitive, columns sorted by name),
and write one line per query to ``CENSUS_<basename(sf_dir)>.json``: the
oracle status (PASS, FAIL, or ROWS when there is no oracle), row and
column counts, a SHA-1 of the sorted columns and sorted normalised rows,
and the Spark jobs run inside ``fn()`` and ``collect()``.  Job counts
depend on the cpus and pyspark version in the file header, and a few AQE
plans vary theirs by a job or two between runs.  Engine and oracle
seconds go to stdout only.  A run over a subset of names rewrites only
their lines, so before/after for a change is ``git diff CENSUS_*.json``.

Usage: python tools/census.py sf_dir [query ...]
(exits 1 on a FAIL, 2 on an unknown name before Spark starts)
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import sys
import tempfile
import time
import uuid

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark  # noqa: E402

from grouper_spark.session import get_spark  # noqa: E402
from grouper_spark.sources import TABLES  # noqa: E402

FIELDS = ("status", "rows", "columns", "hash", "fn_jobs", "collect_jobs")


def normalize(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(normalize(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def sort_key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def oracle_connection(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _in_group(spark, thunk):
    """Run ``thunk`` under a fresh Spark job group; return its result and
    the number of jobs it ran."""
    sc, group = spark.sparkContext, uuid.uuid4().hex
    sc.setJobGroup(group, "census")
    out = thunk()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def census(spark, con, sf_dir, name, fn, oracle):
    """Run one query and its oracle; return its census line and the
    PASS/FAIL/ROWS report for stdout."""
    # Drop cached blocks left by the previous query's localCheckpoint
    # frames: across a 700+-query sweep they accumulate tens of GB in the
    # driver-JVM block manager and OOM the heap at scale10 (the round-10
    # q325 cascade). Each query's checkpoints are dead once it has run.
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    line = dict.fromkeys(FIELDS) | {"status": "FAIL"}
    t0 = time.time()
    try:
        sdf, line["fn_jobs"] = _in_group(spark, lambda: fn(spark, sf_dir))
        rows, line["collect_jobs"] = _in_group(spark, sdf.collect)
        scols = sorted(sdf.columns)
        srows = sorted(
            (tuple(normalize(r[c]) for c in scols) for r in rows), key=sort_key
        )
    except Exception as e:
        return line, f"FAIL {name}: spark error: {type(e).__name__}: {e}"
    digest = hashlib.sha1(repr((scols, srows)).encode()).hexdigest()
    line.update(rows=len(srows), columns=len(scols), hash=digest)
    took = f"engine {time.time() - t0:.1f}s"
    if oracle is None:
        line["status"] = "ROWS"
        return line, f"ROWS {name}: {len(srows)} rows ({took}) [rows-only]"
    t1 = time.time()
    try:
        res = con.execute(oracle)
        dcols_raw = [d[0] for d in res.description]
        drows_raw = res.fetchall()
    except Exception as e:
        return line, f"FAIL {name}: duckdb error: {type(e).__name__}: {e}"
    took += f", oracle {time.time() - t1:.1f}s"
    order = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
    dcols = [dcols_raw[i] for i in order]
    drows = sorted(
        (tuple(normalize(r[i]) for i in order) for r in drows_raw), key=sort_key
    )
    if scols != dcols:
        return line, f"FAIL {name}: columns differ\n  spark={scols}\n  duck ={dcols}"
    if len(srows) != len(drows):
        return line, f"FAIL {name}: row count {len(srows)} vs {len(drows)}"
    bad = [(a, b) for a, b in zip(srows, drows) if a != b]
    if bad:
        cells = [(c, x, y) for c, x, y in zip(scols, *bad[0]) if x != y]
        diff = "".join(f"\n    {c}: spark={x!r} duck={y!r}" for c, x, y in cells)
        return line, f"FAIL {name}: {len(bad)}/{len(srows)} rows differ:{diff}"
    line["status"] = "PASS"
    return line, f"PASS {name}: {len(srows)} rows ({took})"


def _clear_staging(spark, scratch):
    """Empty the session's warehouse and temp dir (both under ``scratch``)
    so the next query stages its layouts afresh: its job counts must not
    depend on which queries ran before it, in this run or an earlier one."""
    for t in spark.catalog.listTables():
        if not t.isTemporary:
            spark.sql(f"DROP TABLE {t.name}")
    shutil.rmtree(scratch)
    os.makedirs(tempfile.gettempdir())


def main() -> int:
    sf_dir, *names = sys.argv[1:] or sys.exit(__doc__)
    only = set(names)

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query names: {' '.join(unknown)}", file=sys.stderr)
        return 2
    oracles = entry_mod.oracle_sql()
    path = os.path.join(ROOT, f"CENSUS_{os.path.basename(sf_dir.rstrip('/'))}.json")
    table = {}
    if only and os.path.exists(path):
        with open(path) as f:
            table = json.load(f)["queries"]
    counts = {"PASS": 0, "FAIL": 0, "ROWS": 0}
    with tempfile.TemporaryDirectory(prefix="census-") as scratch:
        wh = {"spark.sql.warehouse.dir": os.path.join(scratch, "warehouse")}
        spark = get_spark("census", extra_conf=wh)
        tempfile.tempdir = os.path.join(scratch, "tmp")
        con = oracle_connection(sf_dir)
        for name, fn in qs.items():
            if only and name not in only:
                continue
            _clear_staging(spark, scratch)
            line, report = census(spark, con, sf_dir, name, fn, oracles.get(name))
            table[name] = line
            counts[line["status"]] += 1
            print(report, flush=True)

    head = json.dumps({"cpus": spark.sparkContext.defaultParallelism,
                       "pyspark": pyspark.__version__})
    body = ",\n".join(f"{json.dumps(n)}: {json.dumps(table[n])}" for n in sorted(table))
    with open(path, "w") as f:
        f.write(f'{head[:-1]}, "queries": {{\n{body}\n}}}}\n')
    print(f"\n{counts['PASS']} pass, {counts['FAIL']} fail, {counts['ROWS']} rows-only")
    return 1 if counts["FAIL"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
