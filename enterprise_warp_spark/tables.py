"""Loaders for the driver-generated parquet testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events documents
embeddings. Reads are plain ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning for free; nothing is cached here — callers decide.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def events_ts_unit(sf_dir: str) -> str:
    """Sniff the physical parquet unit of ``events.ts`` ('ns' or 'us').

    Driver-side footer read via pyarrow — no Spark job. The driver has
    shipped both encodings across rounds (TIMESTAMP(NANOS) initially, plain
    microsecond TIMESTAMP later), so the loaders adapt per-directory instead
    of hard-coding one.
    """
    import pyarrow.parquet as pq

    t = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
    unit = getattr(t, "unit", None)
    if unit not in ("ns", "us"):
        # a third encoding (ms/s, or a non-timestamp ts column) must fail
        # loudly at load time, not be silently mis-read as µs
        raise ValueError(
            f"events.ts has unsupported encoding {t!r} (unit={unit!r}); "
            "loaders understand TIMESTAMP(NANOS) and microsecond TIMESTAMP"
        )
    return unit


def source_bytes(spark: SparkSession, path: str) -> int:
    """Byte size of a source file/directory via the Hadoop FileSystem API
    — scheme-agnostic (file:, hdfs://, s3a://), driver-side metadata only,
    no Spark job (the streaming state-sizing helper, promoted here so
    scale-adaptive operators share it; r14 verdict #3 precedent).
    getContentSummary sums recursively, so directories work. Returns 0
    when the path is missing or unreadable (callers must treat 0 as
    'size unknown')."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(jpath).getLength())
    except Exception:
        return 0


def input_bytes(df: DataFrame) -> int:
    """Estimated byte footprint of a DataFrame's file-backed inputs:
    driver-side only (inputFiles + Hadoop FS metadata, no Spark job).
    Large inputs are sampled: the first 64 files are sized and the mean
    of their non-zero sizes stands in for each unsampled file, so the
    estimate costs O(64) namenode calls, not O(files). A sampled file
    that reads as 0 bytes (empty or unreadable) counts as 0. Returns 0
    for non-file-backed inputs — callers fall back to their
    scale-unknown default."""
    try:
        files = df.inputFiles()
    except Exception:
        return 0
    if not files:
        return 0
    sample = files[:64]
    spark = df.sparkSession
    known = [b for b in (source_bytes(spark, f) for f in sample) if b > 0]
    if not known:
        return 0
    return sum(known) + sum(known) * (len(files) - len(sample)) // len(known)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table.

    SESSION-LEVEL SIDE EFFECTS (documented API contract, shared with
    load_tables and streaming.events.stream_events):
    * ``spark.sql.session.timeZone`` is pinned to UTC (all queries here
      assume it);
    * loading a nanos-encoded ``events`` sets
      ``spark.sql.legacy.parquet.nanosAsLong=true`` for the SESSION — any
      later nanos-timestamp parquet read in the same session also sees raw
      int64. The conf cannot be scoped to this one read: Spark consults it
      lazily at scan execution, not at ``spark.read`` time, so a
      save/restore here would corrupt the deferred scan. Use a separate
      session if you need nanos-as-timestamp semantics elsewhere.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Timestamps in the testdata are naive instants; pin the session to UTC so
    # collection (toPandas) never shifts them relative to the DuckDB oracle.
    # Unconditional (no try/except): session.timeZone is runtime-settable in
    # every Spark session, and silently skipping the pin would corrupt every
    # timestamp comparison — the r3-ADVICE failure shape.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Normalize events to a stable 3-column time contract regardless of
        # the physical encoding: ts (microsecond TIMESTAMP), ts_us (µs epoch
        # bigint), ts_ns (ns epoch bigint). Queries/oracles only ever touch
        # ts / ts_us.
        from pyspark.sql import functions as F

        if events_ts_unit(sf_dir) == "ns":
            # TIMESTAMP(NANOS): Spark only reads it as a raw int64
            # (nanosAsLong); ns div 1000 matches DuckDB's truncating ns->us.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            return (
                df.withColumnRenamed("ts", "ts_ns")
                .withColumn("ts_us", F.expr("ts_ns div 1000"))
                .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            )
        # Microsecond TIMESTAMP (reads as TIMESTAMP_NTZ): with the session
        # pinned to UTC the NTZ->TIMESTAMP cast is value-preserving.
        df = spark.read.parquet(path)
        return (
            df.withColumn("ts", F.col("ts").cast("timestamp"))
            .withColumn("ts_us", F.unix_micros(F.col("ts")))
            .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
        )
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def save_snapshot(df: DataFrame, path: str, partition_by: str | None = "psr") -> None:
    """S3 — parquet snapshot (replaces the reference's pulsar pickle cache,
    enterprise_warp.py:352-392): partitioned by psr so per-pulsar queries
    prune partitions."""
    w = df.write.mode("overwrite")
    if partition_by and partition_by in df.columns:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def load_snapshot(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Write a bucketed+sorted table (hive-style layout): repeated joins or
    aggregations on `key` then run WITHOUT a shuffle — both sides scan
    co-located buckets. This is the 100 TB answer for fact-to-fact joins the
    planner would otherwise sort-merge with two exchanges per query."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, key).sortBy(key)
    if path:
        w = w.option("path", path)
    w.saveAsTable(name)
