"""Table catalog over the parquet fixtures.

Every query loads through here so scan behavior is uniform:
``spark.read.parquet`` gives vectorized columnar scans with predicate
pushdown and column pruning for free via Catalyst — verify with
``df.explain("formatted")`` (PushedFilters / ReadSchema lines).

At 100 TB the same call reads a partitioned parquet lake; nothing in the
query layer changes — partition pruning kicks in when the lake is laid
out by date/key and filters reference those columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # Parquet TIMESTAMP(NANOS) surfaces as long under
        # spark.sql.legacy.parquet.nanosAsLong; truncate to micros —
        # the same truncation DuckDB applies reading the same file.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, TimestampNTZType)
    ]
    for col in ntz:
        # Fixture generations vary between TIMESTAMP(NANOS) and plain
        # micros-NTZ. Normalize NTZ to session-tz (LTZ) timestamps: with
        # the session tz pinned to UTC this is the same instant and the
        # same wall clock DuckDB sees, and LTZ is required by event-time
        # operators (withWatermark rejects TIMESTAMP_NTZ).
        df = df.withColumn(col, F.col(col).cast("timestamp_ltz"))
    return df


def sf_tag(sf_dir: str) -> str:
    """Identifier-safe name of a fixture dir: ``.../sf0.01`` → ``sf0_01``."""
    return sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")


def staged_path(
    root: str, prefix: str, sf_dir: str, source: str, *, version: int
) -> str:
    """Where a layout derived from fixture table ``source`` is staged:
    ``<root>/<prefix>_v<version>_<sf tag>_<mtime>_<size>``. The source
    file's mtime and size are in the path, so a regenerated fixture is
    never served from a stale staged copy; ``version`` is the stager's
    own, bumped whenever what it writes changes, so a layout staged by
    older code is never served to newer code."""
    st = os.stat(f"{sf_dir.rstrip('/')}/{source}.parquet")
    fingerprint = f"{int(st.st_mtime)}_{st.st_size}"
    return os.path.join(
        root, f"{prefix}_v{version}_{sf_tag(sf_dir)}_{fingerprint}"
    )
