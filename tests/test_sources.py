"""Source/sink helpers: format round-trips and layout writers."""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from grouper_spark.queries import load_all
from grouper_spark.sources import read_any, staged_path, write_partitioned
from grouper_spark.streaming import shutdown, start, submit


@pytest.fixture()
def small_df(spark):
    return spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01"), (3, "c", "2024-01-02")],
        ["id", "tag", "day"],
    )


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_format_roundtrip(spark, small_df, fmt, tmp_path):
    path = str(tmp_path / fmt)
    small_df.write.format(fmt).option("header", "true").save(path)
    back = read_any(spark, path, fmt)
    assert back.count() == 3
    assert {r["tag"] for r in back.collect()} == {"a", "b", "c"}


def test_write_partitioned_prunes(spark, small_df, tmp_path):
    path = str(tmp_path / "part")
    write_partitioned(small_df, path, ["day"])
    assert os.path.isdir(os.path.join(path, "day=2024-01-01"))
    back = read_any(spark, path).filter(F.col("day") == "2024-01-01")
    assert back.count() == 2
    # partition pruning must reach the scan: the partition filter appears
    # in the scan node and the pruned partition's files are never listed
    plan = back._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PartitionFilters: [" in scan and "day" in scan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan


def test_functional_grouper_api():
    g = start(lambda xs: [x * 3 for x in xs], capacity=10, interval=None)
    fut = submit(g, 7)
    g.flush()
    assert fut.result(5) == 21
    assert g.is_running()
    shutdown(g)
    assert not g.is_running()


def test_write_bucketed_join_skips_shuffle(spark):
    from grouper_spark.sources import write_bucketed

    n1 = f"bkt_a_{uuid.uuid4().hex[:8]}"
    n2 = f"bkt_b_{uuid.uuid4().hex[:8]}"
    a = spark.range(0, 1000).withColumn("va", F.col("id") * 2)
    b = spark.range(0, 1000).withColumn("vb", F.col("id") * 3)
    try:
        write_bucketed(a, n1, ["id"], num_buckets=4, sort_by=["id"])
        write_bucketed(b, n2, ["id"], num_buckets=4, sort_by=["id"])
        joined = spark.table(n1).join(spark.table(n2), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-bucketed sides: the join must not re-shuffle either side
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {n1}")
        spark.sql(f"DROP TABLE IF EXISTS {n2}")


def test_text_source_roundtrip(spark, tmp_path):
    path = str(tmp_path / "text")
    spark.createDataFrame([("line one",), ("line two",)], ["value"]).write.text(path)
    back = spark.read.text(path)
    assert {r["value"] for r in back.collect()} == {"line one", "line two"}


def test_jsonl_roundtrip_preserves_nested(spark, tmp_path):
    # JSON-lines with a nested struct column — the interchange format a
    # curation pipeline emits for downstream tokenizer jobs
    path = str(tmp_path / "jsonl")
    df = spark.createDataFrame(
        [(1, {"lang": "en", "score": 0.5}), (2, {"lang": "fr", "score": 0.9})],
        "doc_id long, meta struct<lang:string, score:double>",
    )
    df.write.json(path)
    back = spark.read.json(path)
    rows = {(r["doc_id"], r["meta"]["lang"]) for r in back.collect()}
    assert rows == {(1, "en"), (2, "fr")}


def test_binaryfile_source_reads_payloads(spark, tmp_path):
    # binaryFile is the ingestion path for image/audio payloads: opaque
    # bytes + metadata columns, no decode on read
    import os as _os

    path = str(tmp_path / "binary")
    _os.makedirs(path)
    for name, payload in [("a.bin", b"\x00\x01"), ("b.bin", b"\xff")]:
        with open(_os.path.join(path, name), "wb") as fh:
            fh.write(payload)
    back = spark.read.format("binaryFile").load(path)
    got = {(_os.path.basename(r["path"]), bytes(r["content"])) for r in back.collect()}
    assert got == {("a.bin", b"\x00\x01"), ("b.bin", b"\xff")}


def test_merge_schema_evolution(spark, tmp_path):
    """Schema evolution across file generations: a later write adds a
    column; mergeSchema reads the union schema with nulls backfilled."""
    path = str(tmp_path / "evolve")
    spark.createDataFrame([(1, "a")], ["id", "tag"]).write.parquet(path)
    spark.createDataFrame([(2, "b", 9.5)], ["id", "tag", "score"]).write.mode(
        "append"
    ).parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(back.columns) == {"id", "tag", "score"}
    rows = {r["id"]: r["score"] for r in back.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_max_records_per_file_bounds_file_size(spark, tmp_path):
    """maxRecordsPerFile caps output file row counts — the knob that
    keeps downstream scan parallelism healthy when a stage's output
    partitioning would otherwise produce a few huge files."""
    import glob

    path = str(tmp_path / "maxrec")
    spark.range(1000).coalesce(1).write.option(
        "maxRecordsPerFile", 100
    ).parquet(path)
    files = glob.glob(os.path.join(path, "*.parquet"))
    assert len(files) == 10
    assert spark.read.parquet(path).count() == 1000


def test_zstd_compression_roundtrip(spark, tmp_path):
    path = str(tmp_path / "zstd")
    spark.range(100).withColumn("v", F.col("id") * 2).write.option(
        "compression", "zstd"
    ).parquet(path)
    import glob

    assert glob.glob(os.path.join(path, "*.zstd.parquet"))
    assert spark.read.parquet(path).count() == 100


def test_compact_small_files_reduces_file_count(spark, sf_dir, tmp_path):
    from grouper_spark.sources import table
    from grouper_spark.sources.sinks import compact_small_files

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    # fragment: one file per partition x 64
    ev.repartition(64).write.parquet(src)
    import glob

    n_src = len(glob.glob(f"{src}/part-*"))
    assert n_src >= 32
    n_rows = ev.count()
    compact_small_files(
        spark, src, dst, target_rows_per_file=n_rows, order_by=["user_id"]
    )
    n_dst = len(glob.glob(f"{dst}/part-*"))
    assert n_dst == 1
    out = spark.read.parquet(dst)
    assert out.count() == n_rows
    # same multiset of rows after the rewrite
    assert out.exceptAll(ev).count() == 0 and ev.exceptAll(out).count() == 0


def test_compact_range_layout_gives_disjoint_envelopes(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from grouper_spark.sources import table
    from grouper_spark.sources.sinks import compact_small_files

    src = str(tmp_path / "frag2")
    dst = str(tmp_path / "compact2")
    ev = table(spark, sf_dir, "events").select("event_id", "user_id")
    ev.repartition(16).write.parquet(src)
    n = ev.count()
    compact_small_files(
        spark, src, dst, target_rows_per_file=-(-n // 4), order_by=["user_id"]
    )
    out = spark.read.parquet(dst).withColumn(
        "f", F.input_file_name()
    )
    env = (
        out.groupBy("f")
        .agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(env) >= 2
    # range partitioning => per-file user_id envelopes do not interleave
    for a, b in zip(env, env[1:]):
        assert a.hi <= b.lo


def test_read_merged_schema_surfaces_new_columns(spark, tmp_path):
    from grouper_spark.sources.sinks import read_merged_schema

    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id bigint, name string").write.parquet(
        p + "/batch=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, name string, score double"
    ).write.parquet(p + "/batch=2")
    df = read_merged_schema(spark, p)
    assert set(df.columns) >= {"id", "name", "score"}
    rows = {r.id: r for r in df.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_python_datasource_partitioned_read(spark):
    from grouper_spark.sources.pydatasource import (
        SyntheticSeriesDataSource,
        synth_row,
    )

    try:
        spark.dataSource.register(SyntheticSeriesDataSource)
    except Exception:
        pass
    df = (
        spark.read.format("synthetic_series")
        .option("n", 1000)
        .option("parts", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1000
    # content is a pure function of the id
    first = df.filter(F.col("id") == 7).first()
    assert (first.id, first.bucket, first.val_cents) == synth_row(7)


def test_jsonl_sink_commit_publishes_manifest(spark, tmp_path):
    from grouper_spark.sources.pydatasource import JsonlCommitDataSource

    try:
        spark.dataSource.register(JsonlCommitDataSource)
    except Exception:
        pass
    out = str(tmp_path / "sink")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    df.write.format("jsonl_commit").option("path", out).mode("append").save()
    manifest = (tmp_path / "sink" / "_MANIFEST").read_text().split()
    assert manifest, "commit must publish a manifest"
    # no uncommitted .tmp litter, every manifest entry exists
    import os

    names = os.listdir(out)
    assert not [n for n in names if n.endswith(".tmp")]
    assert all(m in names for m in manifest)
    back = spark.read.schema("id bigint, v bigint").json(
        [os.path.join(out, m) for m in manifest]
    )
    assert back.count() == 100


def test_jsonl_sink_failed_job_leaves_nothing_visible(spark, tmp_path):
    import os

    import pytest as _pytest

    from grouper_spark.sources.pydatasource import JsonlCommitDataSource

    try:
        spark.dataSource.register(JsonlCommitDataSource)
    except Exception:
        pass
    out = str(tmp_path / "sink_fail")

    # force a mid-job task failure AFTER other tasks have written their
    # .tmp files: a UDF that raises on the last id
    from pyspark.sql.types import LongType
    from pyspark.sql.functions import udf

    @udf(LongType())
    def boom(i):
        if i == 99:
            raise ValueError("synthetic task failure")
        return i

    bad = spark.range(100).select(boom(F.col("id")).alias("id"))
    with _pytest.raises(Exception):
        bad.write.format("jsonl_commit").option("path", out).mode(
            "append"
        ).save()
    # two-phase commit: no manifest, no visible committed .jsonl files
    if os.path.isdir(out):
        names = os.listdir(out)
        assert "_MANIFEST" not in names
        assert not [n for n in names if n.endswith(".jsonl")]
        # ADVICE r3: abort must also sweep .tmp files from tasks that
        # died BEFORE returning a commit message (their message is None,
        # so they are invisible to the per-message cleanup).
        assert not [n for n in names if n.endswith(".tmp")]


def test_jsonl_sink_second_append_merges_manifest(spark, tmp_path):
    """ADVICE r3: a second mode('append') job must UNION its files into
    _MANIFEST, not rewrite it with only its own — readers trust the
    manifest, so the earlier append's rows would silently vanish."""
    import os

    from grouper_spark.sources.pydatasource import JsonlCommitDataSource

    try:
        spark.dataSource.register(JsonlCommitDataSource)
    except Exception:
        pass
    out = str(tmp_path / "sink_append")
    a = spark.range(0, 50).select(F.col("id"), (F.col("id") * 2).alias("v"))
    b = spark.range(50, 120).select(F.col("id"), (F.col("id") * 2).alias("v"))
    a.write.format("jsonl_commit").option("path", out).mode("append").save()
    b.write.format("jsonl_commit").option("path", out).mode("append").save()
    manifest = (tmp_path / "sink_append" / "_MANIFEST").read_text().split()
    back = spark.read.schema("id bigint, v bigint").json(
        [os.path.join(out, m) for m in manifest]
    )
    assert back.count() == 120
    assert back.select(F.count_distinct("id")).first()[0] == 120


# The queries that stage a per-fixture layout or sink in the local temp
# dir (streaming replays stage per-run uuid dirs and are not listed), and
# the prefix of what each stages there.
_TEMP_STAGERS = {
    "q192_multiformat_federation": "fed_",
    "q257_python_datasink": "grouper_jsonl_sink_",
    "q261_partition_evolution": "grouper_hybrid_",
    "q271_orc_roundtrip": "grouper_orc_",
    "a369_csv_escape_roundtrip": "grouper_csvrt_",
    "a400_format_footprint_advisor": "grouper_fmtadv_",
}


def test_staged_files_land_in_the_temp_dir(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    registry = load_all()
    for name, prefix in _TEMP_STAGERS.items():
        assert registry[name].fn(spark, sf_dir).count() > 0, name
        staged = [p for p in os.listdir(tmp_path) if p.startswith(prefix)]
        assert staged, f"{name} staged nothing under the temp dir"


def test_staged_path_keys_on_the_stager_version(sf_dir, tmp_path):
    """A stager that bumps its version stages to a new path, so a layout
    written by older code is never read back by newer code."""
    root = str(tmp_path)
    v1 = staged_path(root, "grouper_orc", sf_dir, "orders", version=1)
    assert v1 == staged_path(root, "grouper_orc", sf_dir, "orders", version=1)
    assert v1 != staged_path(root, "grouper_orc", sf_dir, "orders", version=2)
    assert os.path.dirname(v1) == root
    assert os.path.basename(v1).startswith("grouper_orc_v1_")
    with pytest.raises(TypeError):
        staged_path(root, "grouper_orc", sf_dir, "orders")
