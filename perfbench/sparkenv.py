"""Spark session lifetime and the layer probes read from outside the engine.

Everything here goes through public or developer APIs of Spark
(``statusTracker``, the driver's ``statusStore``, ``getPersistentRDDs``)
and through ``grouper_spark.session.get_spark``; nothing in the package
is patched.
"""

from __future__ import annotations

import os
import subprocess
import time

from pyspark.sql import SparkSession


def start_session(work_dir: str) -> tuple[SparkSession, float]:
    """Start the package's session with every writable dir under work_dir.

    Returns the session and its start time in seconds. The caller has
    already sized ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` and
    pointed ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVMs' temp dir at
    work_dir.
    """
    from grouper_spark.session import get_spark, silence_accumulator_spam

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work_dir, "ckpt"),
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    silence_accumulator_spam(spark)
    return spark, time.perf_counter() - t0


def stop_session(spark: SparkSession) -> None:
    """Stop Spark, then close the gateway JVM and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # The gateway JVM exits when its stdin reaches EOF.
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_probe_s(spark: SparkSession, cpus: int) -> float:
    """Fixed-work JVM probe: hash and fold 2e8 longs, min of two.

    The same shape as bench.py's calibration (xxhash64 + bit_xor over a
    pinned partition count), scaled down for a host with few cores.
    """
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, 4 * cpus).select(
            F.xxhash64("id").alias("h")
        ).agg(F.bit_xor("h")).collect()
        return time.perf_counter() - t0

    return min(once() for _ in range(2))


def jvm_rss_peak_mb(spark: SparkSession) -> float:
    """Peak resident set of the gateway JVM (VmHWM), or 0 if unreadable."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def storage(spark: SparkSession) -> tuple[int, float]:
    """(persisted RDD count, MB held in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    n = len(jsc.getPersistentRDDs())
    size = 0
    for info in jsc.sc().getRDDStorageInfo():
        size += info.memSize() + info.diskSize()
    return n, size / 2**20


class JobTrace:
    """Per-group job, stage, task, shuffle and input totals.

    ``tag(group)`` labels every job the calling thread starts until the
    next ``tag``; ``read(group)`` sums the status store's stage data
    for that group's jobs. Works with ``spark.ui.enabled=false``.
    """

    def __init__(self, spark: SparkSession) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._jvm = self._sc._jvm
        self._gw = self._sc._gateway

    def tag(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def read(self, group: str) -> dict[str, float]:
        tracker = self._sc.statusTracker()
        out = dict.fromkeys(
            (
                "jobs",
                "stages",
                "tasks",
                "shuffle_read_bytes",
                "shuffle_write_bytes",
                "input_bytes",
                "input_records",
            ),
            0,
        )
        empty = self._jvm.java.util.ArrayList()
        quantiles = self._gw.new_array(self._jvm.double, 0)
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                attempts = self._store.stageData(stage_id, False, empty, False, quantiles)
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numTasks()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["input_bytes"] += sd.inputBytes()
                    out["input_records"] += sd.inputRecords()
        return out
