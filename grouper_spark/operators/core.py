"""Core reusable DataFrame operators the built-in API lacks as one-liners.

Everything here is a composition of native DataFrame ops (single shuffle on
the partition key, window functions, no Python UDFs), so each operator
scales exactly like a groupBy on the same key: 100 TB just means more
shuffle partitions, and AQE handles skew.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition only if the scan is under-parallel for CPU-heavy work.

    Small single-file inputs (one task) serialize compute-dense operators
    (shingling, hashing, vector math) onto one core. At lake scale the
    source already has thousands of splits and this is a no-op — the
    check costs one plan inspection, not a job.
    """
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min_partitions:
        return df
    return df.repartition(min_partitions)


def literal_frame(spark, rows: list[tuple], schema: str) -> DataFrame:
    """Small literal DataFrame via the Arrow (pandas) conversion path.

    ``spark.createDataFrame(list_of_tuples, ...)`` parallelizes the
    rows over ``defaultParallelism`` Python-pickled slices, so every
    evaluation of the frame runs one Python-worker round PER SLICE —
    ~0.3 s for 32 parallel tasks at local[32], and ~4.5 s when a
    ``.coalesce(1)`` folds the 32 rounds into one sequential task (the
    q294 finding). A pandas DataFrame converts to Arrow batches on the
    driver, so the scan is JVM-only (measured 0.08 s for the same
    coalesced frame). ``schema`` is a DDL string or a StructType.
    Values Arrow rejects go through Spark's own row conversion
    (``spark.sql.execution.arrow.pyspark.fallback.enabled``).
    """
    import pandas as pd

    if hasattr(schema, "fieldNames"):
        names = list(schema.fieldNames())
    else:
        names = [f.split()[0] for f in schema.split(",")]
    pdf = pd.DataFrame([list(r) for r in rows], columns=names, dtype=object)
    return spark.createDataFrame(pdf, schema)


def collect_bounded(df: DataFrame, cap: int, what: str) -> list:
    """Collect a panel that is bounded by construction to the driver.

    Runs ``df.limit(cap + 1).collect()``, so at most ``cap + 1`` rows
    ever cross the JVM boundary, and raises ``ValueError`` naming
    ``what`` and ``cap`` when more than ``cap`` rows come back. There is
    no fallback: a panel over its cap means the input is not the one
    the driver-side replay was sized for, and the query fails loudly
    instead of switching algorithm. The limit costs no extra job over a
    bare ``collect()`` on an aggregated panel."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what}: panel exceeds the driver cap of {cap} rows"
        )
    return rows


def collect_vector_panel(df, id_col: str, vec_col: str, cap: int, what: str):
    """Collect a bounded (id, vector) panel to the driver via Arrow.

    Returns ``(ids, X)`` — int64 and float64 ndarrays; an empty panel
    gives zero-length arrays. Follows ``collect_bounded``'s rule: at
    most ``cap + 1`` rows are collected, and more than ``cap`` raises
    ``ValueError`` naming ``what`` and ``cap``. A panel that is not a
    clean fixed-width finite float panel (NULLs, ragged widths,
    NaN/inf, non-integer ids) raises ``ValueError`` too, and an error
    while the panel's plan runs propagates. There is no fallback.
    ``DataFrame.toArrow()`` moves the rows as Arrow record batches
    (JVM-side columnar serialization) — measured ~1.7× faster than
    Row-pickling ``collect()`` on a 20k × 64-double panel, and the
    numpy view of the value buffer is near-free."""
    import numpy as np
    import pyarrow as pa

    tbl = df.select(id_col, vec_col).limit(cap + 1).toArrow()
    if tbl.num_rows > cap:
        raise ValueError(f"{what}: panel exceeds the driver cap of {cap} rows")
    if tbl.num_rows == 0:
        return np.empty(0, np.int64), np.empty((0, 0), np.float64)
    idc = tbl.column(0).combine_chunks()
    vc = tbl.column(1).combine_chunks()
    # A non-integer id would truncate in the int64 cast below (1.5 → 1)
    # and could alias distinct ids.
    if not pa.types.is_integer(idc.type):
        raise ValueError(f"{what}: ids are {idc.type}, not integers")
    if idc.null_count or vc.null_count or vc.values.null_count:
        raise ValueError(f"{what}: panel has NULL ids, vectors or elements")
    off = vc.offsets.to_numpy()
    widths = np.diff(off)
    if widths[0] == 0 or not (widths == widths[0]).all():
        raise ValueError(f"{what}: vectors are empty or of unequal width")
    ids = idc.to_numpy().astype(np.int64)
    X = (
        vc.values.to_numpy(zero_copy_only=False)[off[0] : off[-1]]
        .astype(np.float64, copy=False)
        .reshape(len(widths), widths[0])
    )
    if not np.isfinite(X).all():
        raise ValueError(f"{what}: panel has NaN or infinite elements")
    return ids, X


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    alias: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY order_cols)`` without
    the single-partition WindowExec (which moves ALL rows to one task
    and sorts them single-threaded — the classic global-sort straggler).

    Range-repartition on the order columns (contiguous, ordered ranges
    across partitions), rank within each partition in parallel, then
    add exact per-partition offsets computed from the ACTUAL partition
    counts — so the sampling variance in the range boundaries can never
    affect the result, only the balance. ``order_cols`` must be a total
    order (unique tuples); the returned ``alias`` column is bigint.

    The partition count defaults to the session parallelism, so the
    sort scales with the cluster instead of serializing on one core.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = df.repartitionByRange(num_partitions, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("__pid").orderBy(*cols)
    counts = part.groupBy("__pid").agg(F.count("*").alias("__c"))
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = counts.select(
        "__pid",
        F.coalesce(F.sum("__c").over(w_off), F.lit(0))
        .cast("bigint")
        .alias("__off"),
    )
    return (
        part.withColumn("__lrn", F.row_number().over(w_local))
        .join(F.broadcast(offs), "__pid")
        .withColumn(alias, (F.col("__lrn") + F.col("__off")).cast("bigint"))
        .drop("__pid", "__lrn", "__off")
    )


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_alias: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number — one shuffle on the group key.

    ``order_by`` must be a total order (include a tiebreaker column) so
    results are deterministic across engines and runs.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_alias, F.row_number().over(w))
        .filter(F.col(rank_alias) <= k)
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_values: Sequence[str] = (),
    suffix: str = "_asof",
    tolerance_s: int | None = None,
) -> DataFrame:
    """As-of (backward) join: for each left row, the right row with the
    greatest ``right_ts`` <= ``left_ts`` within the same ``on`` key.

    Implementation is the scalable union-merge: tag both sides, union,
    one shuffle+sort on (key, ts), carry the latest right-side values
    forward with ``last(..., ignorenulls)``, keep left rows. No range
    cross-join, no per-key explosion — cost is a single sort-merge pass,
    which survives a 100× scale-up (equivalent plan shape to Flink/kdb
    as-of implementations).

    Returns all left columns plus ``{val}{suffix}`` for each requested
    right value column and ``{right_ts}{suffix}`` (null when no match).

    ``tolerance_s`` (pandas merge_asof semantics): a backward match
    older than this many seconds is treated as NO match — every carried
    column is nulled together, post-carry, so the stale-data guard adds
    zero shuffles to the union-merge plan.
    """
    carry = [right_ts, *right_values]
    lhs = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*left.columns).alias("__left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in carry],
    )
    rhs = right.select(
        F.col(on).alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(lhs.schema["__left"].dataType).alias("__left"),
        *[F.col(c).alias(f"__r_{c}") for c in carry],
    )
    # Right rows sort before left rows at equal ts (__is_left asc) so an
    # exactly-simultaneous right row IS visible to the left row ("<=").
    w = (
        Window.partitionBy("__key")
        .orderBy(F.col("__ts"), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = lhs.unionByName(rhs)
    for c in carry:
        merged = merged.withColumn(
            f"__r_{c}", F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w)
        )
    keep = F.lit(True)
    if tolerance_s is not None:
        # microsecond-exact: flooring each endpoint to seconds would
        # admit matches up to 1s staler than the bound at sub-second
        # timestamps, diverging from interval arithmetic
        keep = F.col(f"__r_{right_ts}").isNotNull() & (
            F.unix_micros("__ts")
            - F.unix_micros(F.col(f"__r_{right_ts}"))
            <= F.lit(int(tolerance_s) * 1_000_000)
        )
    out = merged.filter(F.col("__is_left") == 1).select(
        *[F.col(f"__left.{c}").alias(c) for c in left.columns],
        *[
            F.when(keep, F.col(f"__r_{c}")).alias(f"{c}{suffix}")
            for c in carry
        ],
    )
    return out


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: float,
    tiebreak: str | None = None,
) -> DataFrame:
    """Assign batch session ids: a new session starts when the gap from the
    previous event (per key, ordered by ts) is >= ``gap_seconds``.

    Adds a ``session_id`` column (1-based per key). Single shuffle on key.
    Matches Spark's native ``session_window`` gap semantics.
    """
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(F.col(ts).cast("double")).over(w)
    new_session = F.when(
        prev.isNull() | (F.col(ts).cast("double") - prev >= gap_seconds), 1
    ).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: Sequence[str] | str,
    how: str = "inner",
    n_salts: int = 8,
) -> DataFrame:
    """Equi-join with key salting for skew: identical results to
    ``skewed.join(other, on, how)``, but hot keys on the skewed side are
    spread over ``n_salts`` shuffle partitions.

    The skewed side gets a deterministic salt (xxhash64 of the whole row,
    mod n_salts — no rand(), so retries/replays are stable); the other
    side is replicated n_salts times. Shuffle keys become
    (key..., __salt), so a key that previously hot-spotted one reducer
    now lands on n_salts of them. Cost: other-side shuffle volume ×
    n_salts — use for fact⋈fact where one side has pathological keys and
    AQE's skew split (enabled in session.py) needs help, e.g. when the
    skew is in a groupBy-under-join Catalyst can't split.

    ``how`` supports the row-preserving joins (inner/left); right/full
    would duplicate other-side null-matches across salts.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(f"salted_join supports inner/left, not {how!r}")
    if "__salt" in skewed.columns or "__salt" in other.columns:
        raise ValueError("salted_join: inputs must not already have __salt")
    keys = [on] if isinstance(on, str) else list(on)
    # Salt entropy from every hashable column (xxhash64 rejects MapType
    # anywhere in the type, including nested in arrays/structs); the key
    # columns alone would map a hot key to ONE salt and defeat the whole
    # point.
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _has_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return _has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(_has_map(f.dataType) for f in dt.fields)
        return False

    hashable = [f.name for f in skewed.schema.fields if not _has_map(f.dataType)]
    if not hashable:
        raise ValueError(
            "salted_join: no hashable (map-free) columns to derive a salt from"
        )
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in hashable]), F.lit(n_salts)
    ).cast("int")
    s = skewed.withColumn("__salt", salt)
    o = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return s.join(o, keys + ["__salt"], how).drop("__salt")


def binned_range_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    delta: float,
    how: str = "inner",
) -> DataFrame:
    """Band (range-predicate) join |left_val - right_val| <= delta as an
    EQUI-join: identical results to the theta-join
    ``left.join(right, abs(lv - rv) <= delta)``, which Catalyst can only
    execute as a nested-loop/cartesian product.

    Both sides are bucketed at width ``delta``; a right row in bucket b
    can only match left rows in buckets {b-1, b, b+1}, so the right side
    is exploded into those three buckets and the join runs on the bucket
    key, followed by the exact range filter. Cost: 3x right-side shuffle
    volume instead of |L| x |R| comparisons — the standard band-join
    binning from the interval-join literature, and the same shape Spark's
    own stream-stream interval join uses internally.

    Column names must be disjoint (verified) — rename before calling.
    """
    if set(left.columns) & set(right.columns):
        raise ValueError(
            "binned_range_join: overlapping columns "
            f"{sorted(set(left.columns) & set(right.columns))}"
        )
    if how != "inner":
        raise ValueError("binned_range_join supports inner only")
    bucket = lambda c: F.floor(F.col(c) / F.lit(delta)).cast("long")  # noqa: E731
    l = left.withColumn("__bucket", bucket(left_val))
    r = right.withColumn(
        "__bucket",
        F.explode(
            F.array(
                bucket(right_val) - 1, bucket(right_val), bucket(right_val) + 1
            )
        ),
    )
    return (
        l.join(r, "__bucket")
        .filter(
            (F.col(left_val) - F.col(right_val) <= delta)
            & (F.col(right_val) - F.col(left_val) <= delta)
        )
        .drop("__bucket")
    )


def merge_intervals(
    df: DataFrame,
    key: str,
    start: str,
    end: str,
) -> DataFrame:
    """Merge overlapping or touching intervals per key into islands: a
    row starting at or before a prior interval's end (same key)
    coalesces with it; a row starting strictly after every prior end
    opens a new island. Returns one row per island:
    ``key, island, island_start, island_end, n_intervals``.

    The classic formulation is an interval self-join (O(n·k) pairs);
    this is the sweep form — a running MAX(end) over the start-ordered
    intervals marks boundaries, a running SUM numbers islands, and one
    aggregate collapses them. All three windows and the aggregate share
    the per-key partitioning, so the input shuffles exactly once at any
    scale.
    """
    w_prev = (
        Window.partitionBy(key)
        .orderBy(start, end)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max_end = F.max(end).over(w_prev)
    marked = df.withColumn(
        "__new_island",
        F.when(
            prev_max_end.isNull() | (F.col(start) > prev_max_end), 1
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy(key)
        .orderBy(start, end)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = marked.withColumn("__isl", F.sum("__new_island").over(w_run))
    return (
        numbered.groupBy(key, "__isl")
        .agg(
            F.min(start).alias("island_start"),
            F.max(end).alias("island_end"),
            F.count("*").alias("n_intervals"),
        )
        .withColumnRenamed("__isl", "island")
    )
