"""SparkSession factory.

Defaults are sized for the local[32] test harness but the knobs are the ones
that matter on a 1000-executor cluster too: AQE (runtime re-planning + skew
join + partition coalescing), Arrow for any pandas-UDF kernel, UTC session
timezone so timestamp values hash identically across engines, and a shuffle
partition count that AQE can coalesce downward.

Its Python workers start through `worker_daemon`, not Spark's default
`pyspark.daemon`: they import the installed pyspark rather than the copy in
Spark's zip archives, so a task does not re-read those archives (see that
module). The daemon conf is static: a session this factory does not create
keeps Spark's daemon, and `tune_for_any_session` cannot change that. The
package must be importable on the workers, as its kernels already need.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from enterprise_warp_spark import worker_daemon


def get_spark(
    app_name: str = "enterprise-warp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", worker_daemon.__name__)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def tune_for_any_session(spark: SparkSession) -> None:
    """Apply runtime-settable confs to a session we did not create.

    The correctness driver hands us its own SparkSession; these are the confs
    that can still be set post-startup and matter for our plans.
    """
    # correctness-critical and always runtime-settable: never behind the
    # best-effort try below, where a failure would silently skip it
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for k, v in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this session; plan-level hints still apply
