"""grouper_spark — a PySpark-native analytics engine.

A from-scratch engine with the micro-batch dataflow semantics of
junegunn/grouper (reference: /root/reference/src/grouper/core.clj)
re-expressed on Spark, plus a full relational operator inventory and
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) designed for the 100 TB scale point.

Layout
------
- ``session``    : tuned SparkSession factory (AQE, Arrow, UTC).
- ``sources``    : table catalog over the parquet fixtures.
- ``functions``  : column-level helpers (vector math, text) — all JVM-side.
- ``operators``  : reusable DataFrame→DataFrame operators (as-of join,
                   top-k per group, dedup family, ANN).
- ``queries``    : the registered query inventory (name → callable +
                   DuckDB oracle SQL) consumed by ``__spark_entry__.py``.
- ``streaming``  : the Grouper micro-batch layer (reference semantics on
                   Structured Streaming / Spark batches). The in-process
                   engine needs only the stdlib; pyspark is imported when
                   a stream helper (such as the ``dataframe_proc_fn``
                   adapter) is first accessed.
"""

__version__ = "0.1.0"
