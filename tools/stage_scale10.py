"""Stage a 10x row-amplified copy of an sf fixture dir (r5 verdict #2,
r6 verdict #4: "no >=10x data point has ever been run").

Amplification is DETERMINISTIC: every fact row is replicated REPS
times with its entity keys remapped as key*REPS + rep, so referential
integrity survives (orders of replica r join customers of replica r;
lineitems follow their order). Dimension tables (region, nation, part,
supplier) are left at 1x — dims grow slower than facts at real scale,
and keeping them fixed preserves every dim-key literal in the query
battery. Values (prices, timestamps, text, embeddings) are copied
verbatim, so per-key distributions match the source exactly and every
fixed-point oracle stays exact.

Output is ONE parquet file per table (DuckDB COPY), laid out exactly
like a driver fixture dir, so tools/census.py and bench.py run
against it unchanged:

    python tools/stage_scale10.py            # stage from sf0.1
    python tools/census.py spark-warehouse/scale10 ...
    SPARK_GRAFT_SF_DIR=spark-warehouse/scale10 python bench.py
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = (
    sys.argv[2]
    if len(sys.argv) > 2
    else "/root/repo/spark-warehouse/scale10"
)
REPS = int(os.environ.get("SCALE_REPS", "10"))

# (table, [key columns to remap]) — non-key columns copy verbatim.
FACTS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation", "part", "supplier"]


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    for t in DIMS:
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO"
            f" '{DST}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(f"{t}: 1x copy")
    for t, keys in FACTS.items():
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM '{SRC}/{t}.parquet'"
            ).fetchall()
        ]
        sel = ", ".join(
            f"CAST({c} * {REPS} + r.rep AS BIGINT) AS {c}"
            if c in keys
            else c
            for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} FROM '{SRC}/{t}.parquet'"
            f" CROSS JOIN (SELECT unnest(range({REPS})) AS rep) r)"
            f" TO '{DST}/{t}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(
            f"SELECT COUNT(*) FROM '{DST}/{t}.parquet'"
        ).fetchone()[0]
        print(f"{t}: {REPS}x -> {n} rows")


if __name__ == "__main__":
    main()
