"""Table maintenance for parquet-backed snapshots: partition upserts and
SCD Type-2 dimension history.

At 100 TB a table is immutable files + partition directories; "update" means
rewriting the smallest set of partitions that changed. These helpers are the
no-lakehouse versions of MERGE INTO: they use Spark's dynamic partition
overwrite so untouched partitions are never rewritten. Swapping the format
for Delta/Iceberg upgrades atomicity without changing call sites.

Scale notes:
  upsert_partitions  write-only; shuffle = the writer's partitioning
  scd2_merge         one read + anti/semi joins on the key + one rewrite
"""

from __future__ import annotations

import contextlib
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextlib.contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a SQL conf for the duration of a write, then restore — avoids the
    session-wide side-effect anti-pattern."""
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def upsert_partitions(df: DataFrame, path: str, partition_cols: Sequence[str]) -> None:
    """Replace exactly the partitions present in `df`, leaving all others
    untouched (dynamic partition overwrite). The parquet-native upsert for
    append-mostly tables partitioned by date/source/shard."""
    if not partition_cols:
        raise ValueError("upsert_partitions requires partition columns")
    spark = df.sparkSession
    with _scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


SCD2_COLS = ("__valid_from", "__valid_to", "__is_current")


def scd2_init(df: DataFrame, effective_us: int) -> DataFrame:
    """Stamp a dimension snapshot as SCD Type-2 version rows: every row
    becomes current from `effective_us` (open-ended validity)."""
    return (
        df.withColumn("__valid_from", F.lit(int(effective_us)).cast("long"))
        .withColumn("__valid_to", F.lit(None).cast("long"))
        .withColumn("__is_current", F.lit(True))
    )


def scd2_merge(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    effective_us: int,
) -> None:
    """Slowly-changing-dimension Type 2 merge: for each updated key, CLOSE
    the current version (valid_to = effective_us, is_current = false) and
    append the new version; unchanged keys keep their open row; brand-new
    keys insert as current. Rows whose attribute values are IDENTICAL to
    the current version are skipped (no spurious versions).

    Point-in-time reads use scd2_as_of. History is append-mostly: one
    read + anti/semi joins on the key + one rewrite; at scale partition
    the dimension by a stable hash of the key and merge per partition
    (upsert_partitions)."""
    key_cols = list(key_cols)
    existing = spark.read.parquet(path)
    attr_cols = [
        c for c in existing.columns if c not in key_cols and c not in SCD2_COLS
    ]
    up = updates.select(*key_cols, *attr_cols)
    # one update row per key, or two open versions would be inserted;
    # groupBy is null-safe (NULL keys form their own group), so this
    # catches duplicates among NULL-keyed rows too
    if up.groupBy(*key_cols).count().filter("count > 1").limit(1).count():
        raise ValueError("scd2_merge: updates contain duplicate keys")

    current = existing.filter(F.col("__is_current"))
    closed_history = existing.filter(~F.col("__is_current"))

    def _nullsafe_cond(left, right):
        cond = F.lit(True)
        for k in key_cols:
            cond = cond & left[k].eqNullSafe(right[k])
        return cond

    # changed = current rows whose key matches an update with ANY differing
    # attribute (null-safe); identical rows produce no new version. ALL the
    # key joins below are null-safe too: a NULL business key must close and
    # version like any other, not leak a duplicate open row.
    diff = F.lit(False)
    for a in attr_cols:
        diff = diff | ~current[a].eqNullSafe(up[a])
    matched = (
        current.alias("c")
        .join(up.alias("n"), _nullsafe_cond(current, up), "inner")
        .filter(diff)
    )
    changed_keys = matched.select(
        *[F.col(f"c.{k}").alias(k) for k in key_cols]
    ).localCheckpoint(eager=True)

    # out-of-order feeds corrupt the validity chain invisibly — refuse them
    latest = (
        current.join(changed_keys, _nullsafe_cond(current, changed_keys), "left_semi")
        .agg(F.max("__valid_from").alias("m"))
        .first()["m"]
    )
    if latest is not None and int(effective_us) <= int(latest):
        raise ValueError(
            f"scd2_merge: effective_us={effective_us} is not after the "
            f"latest current __valid_from={latest} for a changed key — "
            "out-of-order merges would create impossible validity intervals"
        )

    to_close = (
        current.join(changed_keys, _nullsafe_cond(current, changed_keys), "left_semi")
        .withColumn("__valid_to", F.lit(int(effective_us)).cast("long"))
        .withColumn("__is_current", F.lit(False))
    )
    untouched_current = current.join(
        changed_keys, _nullsafe_cond(current, changed_keys), "left_anti"
    )
    # new versions: changed keys + brand-new keys
    existing_keys = current.select(*key_cols)
    new_rows = (
        up.join(changed_keys, _nullsafe_cond(up, changed_keys), "left_semi")
        .unionByName(
            up.join(existing_keys, _nullsafe_cond(up, existing_keys), "left_anti")
        )
    )
    new_versions = scd2_init(new_rows, effective_us)

    merged = (
        closed_history.unionByName(to_close)
        .unionByName(untouched_current)
        .unionByName(new_versions.select(*existing.columns))
    ).localCheckpoint(eager=True)  # severs lineage from the path we rewrite
    merged.write.mode("overwrite").parquet(path)
    spark.catalog.refreshByPath(path)


def scd2_as_of(dim: DataFrame, ts_us: int) -> DataFrame:
    """Point-in-time dimension view: the version of each key valid at
    `ts_us` (valid_from <= ts < valid_to, open-ended current rows
    included), with the bookkeeping columns dropped."""
    return dim.filter(
        (F.col("__valid_from") <= int(ts_us))
        & (F.col("__valid_to").isNull() | (F.col("__valid_to") > int(ts_us)))
    ).drop(*SCD2_COLS)
