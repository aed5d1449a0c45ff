"""Query catalog — the correctness surface of the engine.

Every entry pairs (a) a Spark DataFrame plan built from the operator library
with (b) an ANSI-SQL oracle that DuckDB runs on the same parquet tables. The
driver hash-compares results (columns sorted by name, row-order-insensitive),
so column names are aliased identically on both sides.

Cross-engine numeric determinism rules used throughout:
  * money-like SUMs go through exact DECIMAL casts (order-independent),
    then CAST AS DOUBLE — bit-identical across engines;
  * AVG = exact-decimal SUM / COUNT — one IEEE division, bit-identical;
  * genuinely-double statistics (stddev, weighted means, transcendentals)
    are ROUND()ed leaving >=5 orders of magnitude between the rounding
    granularity and the worst-case summation-order error;
  * rankings over doubles order by a pre-rounded value with a unique-key
    tie-break, so 1-ulp libm differences cannot flip the order.

Reference operators covered per query are noted as SURVEY §2 ids (A1, J6, ...).
"""

from __future__ import annotations

import itertools
import os
import time
from collections.abc import Callable, Mapping
from concurrent.futures import FIRST_EXCEPTION, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType
from pyspark.util import inheritable_thread_target

from enterprise_warp_spark.functions.arrays import spread
from enterprise_warp_spark.functions.orf import hd_orf
from enterprise_warp_spark.operators.binning import histogram_mode
from enterprise_warp_spark.operators.ranking import ntile_bins_scalable
from enterprise_warp_spark.operators.relational import (
    burnin_filter,
    credible_levels,
    log_bayes_factors,
    model_counts,
    thin,
)
from enterprise_warp_spark.operators.weighted import weighted_mean
from enterprise_warp_spark.tables import table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def wrap(fn):
        REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return wrap


# Width of every union gate's branch pool. FIFO scheduling back-fills
# executor gaps, so a wider pool adds driver threads, not executor pressure
# (8 won an interleaved 4-vs-8 A/B on learned_sketch_ops, OPTIMIZATION_r14).
BRANCH_WIDTH = 8

# {gate: {branch: seconds to build and materialize that branch alone}},
# filled by run_branches only when SPARK_GRAFT_BRANCH_TIMING=1.
BRANCH_SECONDS: dict[str, dict[str, float]] = {}

_gate_runs = itertools.count()


class _SharedInputs(dict):
    """name -> Future of a shared input; indexing blocks until it is built."""

    def __getitem__(self, name: str) -> Any:
        return super().__getitem__(name).result()


def run_branches(
    spark: SparkSession,
    gate: str,
    branches: dict[str, Callable[[Mapping[str, Any]], Any]],
    shared: dict[str, Callable[[Mapping[str, Any]], Any]] | None = None,
) -> list:
    """Build a union gate's branches on one thread pool and return their
    results in `branches` order (the union order is fixed by code, never
    by completion order).

    Every callable gets one argument, a mapping whose `[name]` blocks
    until the shared input `name` is built. Shared inputs are submitted
    first, in order (one may read an earlier one), so no pool width can
    deadlock a branch waiting on its input.

    Each callable runs under pyspark's inheritable_thread_target, so the
    caller's local properties (a job group, job tags) reach the pool
    thread, and adds two job tags: `ews-gate:<gate>:<run id>` for this
    call and `ews-branch:<gate>:<name>`. On the first failure the jobs
    tagged with this call's run tag are cancelled until every sibling has
    exited, queued callables are dropped, and that first error is raised.

    With SPARK_GRAFT_BRANCH_TIMING=1 the pool has one thread, so branches
    build strictly one after another with the shared inputs already
    resolved; each branch is also materialized (noop write) and its
    seconds are recorded in BRANCH_SECONDS[gate]. Concurrent builds would
    charge each other's contention to whichever branch overlapped."""
    sc = spark.sparkContext
    timing = os.environ.get("SPARK_GRAFT_BRANCH_TIMING") == "1"
    seconds: dict[str, float] = {}
    if timing:
        BRANCH_SECONDS[gate] = seconds
    else:
        BRANCH_SECONDS.pop(gate, None)
    run_tag = f"ews-gate:{gate}:{next(_gate_runs)}"
    inputs = _SharedInputs()

    def task(name: str, fn: Callable, timed: bool) -> Callable[[], Any]:
        @inheritable_thread_target(spark)
        def run() -> Any:
            sc.addJobTag(run_tag)
            sc.addJobTag(f"ews-branch:{gate}:{name}")
            t0 = time.perf_counter()
            out = fn(inputs)
            if timed:
                if isinstance(out, DataFrame):
                    out.write.format("noop").mode("overwrite").save()
                seconds[name] = round(time.perf_counter() - t0, 4)
            return out

        return run

    pool = ThreadPoolExecutor(max_workers=1 if timing else BRANCH_WIDTH)
    submitted: list[Future] = []
    try:
        for name, fn in (shared or {}).items():
            f = inputs[name] = pool.submit(task(name, fn, False))
            submitted.append(f)
        futures = [pool.submit(task(n, fn, timing)) for n, fn in branches.items()]
        submitted += futures
        done, _ = wait(submitted, return_when=FIRST_EXCEPTION)
        for f in submitted:
            if f in done and f.exception() is not None:
                raise f.exception()
        return [f.result() for f in futures]
    except BaseException:
        pool.shutdown(wait=False, cancel_futures=True)
        pending = [f for f in submitted if not f.done()]
        while pending:
            sc.cancelJobsWithTag(run_tag)
            pending = list(wait(pending, timeout=0.1).not_done)
        raise
    finally:
        pool.shutdown(wait=True)


def _dec(col: str | F.Column, prec: int, scale: int) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DecimalType(prec, scale))


def _dsum(col: str | F.Column, prec: int = 14, scale: int = 2) -> F.Column:
    """Exact decimal sum surfaced as DOUBLE. The decimal sum itself is
    order-independent; the final ROUND removes the 1-ulp wiggle in each
    engine's decimal->double conversion."""
    return F.round(F.sum(_dec(col, prec, scale)).cast("double"), 2)


def _davg(col: str | F.Column, prec: int = 14, scale: int = 2) -> F.Column:
    return F.round(
        F.sum(_dec(col, prec, scale)).cast("double") / F.count(F.lit(1)), 6
    )


# ---------------------------------------------------------------------------
# Relational spine (TPC-H-style; exercises scans, joins, group-aggs)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(19,2))) AS DOUBLE), 2) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,2))) AS DOUBLE), 2) AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,2)) * CAST(1-l_discount AS DECIMAL(8,6))) AS DOUBLE), 2) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,2)) * CAST(1-l_discount AS DECIMAL(8,6)) * CAST(1+l_tax AS DECIMAL(8,6))) AS DOUBLE), 2) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(19,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(8,6))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: scan+filter+group-agg; exact decimal arithmetic.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    disc = _dec(F.lit(1.0) - F.col("l_discount"), 8, 6)
    tax = _dec(F.lit(1.0) + F.col("l_tax"), 8, 6)
    ep = _dec("l_extendedprice", 19, 2)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity", 19, 2).alias("sum_qty"),
        _dsum("l_extendedprice", 19, 2).alias("sum_base_price"),
        F.round(F.sum(ep * disc).cast("double"), 2).alias("sum_disc_price"),
        F.round(F.sum(ep * disc * tax).cast("double"), 2).alias("sum_charge"),
        _davg("l_quantity", 19, 2).alias("avg_qty"),
        _davg("l_extendedprice", 19, 2).alias("avg_price"),
        _davg("l_discount", 8, 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "q3_top_revenue_orders",
    """
    SELECT l_orderkey,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,2)) * CAST(1-l_discount AS DECIMAL(8,6))) AS DOUBLE), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: 3-way join, group, deterministic top-k (exact decimal revenue).",
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    rev = _dec("l_extendedprice", 19, 2) * _dec(F.lit(1.0) - F.col("l_discount"), 8, 6)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_volume",
    """
    SELECT n_name,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,2)) * CAST(1-l_discount AS DECIMAL(8,6))) AS DOUBLE), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: 6-way star join; dims broadcast, fact shuffles once.",
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = lambda n: table(spark, sf_dir, n)  # noqa: E731
    orders = t("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    rev = _dec("l_extendedprice", 19, 2) * _dec(F.lit(1.0) - F.col("l_discount"), 8, 6)
    return (
        t("lineitem")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t("customer")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t("supplier")), (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(t("nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t("region")).filter(F.col("r_name") == "ASIA"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Reference-derived operators on the events "chain" table (SURVEY §2.2-2.4)
# ---------------------------------------------------------------------------


@register(
    "log_bayes_factors_events",
    """
    WITH c AS (
      SELECT CAST(ROUND(value/100, 0) AS BIGINT) AS nmodel, COUNT(*) AS n_samples
      FROM events GROUP BY 1
    )
    SELECT a.nmodel AS model_a, b.nmodel AS model_b,
           a.n_samples AS n_a, b.n_samples AS n_b,
           ROUND(LN(b.n_samples / CAST(a.n_samples AS DOUBLE)), 9) AS log_bf
    FROM c a JOIN c b ON a.nmodel < b.nmodel
    """,
    doc="A2+A3 — product-space model membership counts (round(nmodel) "
    "semantics; every model's n_samples appears as n_a/n_b) and log Bayes "
    "factors over all model pairs (results.py:605-616).",
)
def log_bayes_factors_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = model_counts(table(spark, sf_dir, "events"), F.col("value") / 100)
    return log_bayes_factors(counts)


@register(
    "credible_levels_by_type",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.16), 6) AS p16,
           ROUND(quantile_cont(value, 0.50), 6) AS p50,
           ROUND(quantile_cont(value, 0.84), 6) AS p84
    FROM events GROUP BY event_type
    """,
    doc="A4 credible levels: exact interpolated percentiles (results.py:201-213).",
)
def credible_levels_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return credible_levels(table(spark, sf_dir, "events"), "value", ["event_type"])


@register(
    "hist_mode",
    """
    WITH stats AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem),
    b AS (
      SELECT LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo)/50)) AS BIGINT), 49) AS bucket, lo, hi
      FROM lineitem, stats
    ),
    c AS (SELECT bucket, lo, hi, COUNT(*) AS cnt FROM b GROUP BY bucket, lo, hi),
    gl AS (
      SELECT 'lineitem_price' AS grp, bucket, cnt, ROUND(lo + bucket*(hi-lo)/50, 6) AS mode_position
      FROM c ORDER BY cnt DESC, bucket LIMIT 1
    ),
    estats AS (SELECT event_type, MIN(value) AS lo, MAX(value) AS hi FROM events GROUP BY 1),
    eb AS (
      SELECT e.event_type,
             LEAST(CAST(FLOOR((e.value - s.lo) / ((s.hi - s.lo)/50)) AS BIGINT), 49) AS bucket,
             s.lo, s.hi
      FROM events e JOIN estats s ON e.event_type = s.event_type
    ),
    ec AS (SELECT event_type, bucket, lo, hi, COUNT(*) AS cnt FROM eb GROUP BY 1,2,3,4),
    er AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cnt DESC, bucket) AS rn FROM ec)
    SELECT * FROM gl
    UNION ALL
    SELECT event_type AS grp, bucket, cnt, ROUND(lo + bucket*(hi-lo)/50, 6) AS mode_position
    FROM er WHERE rn = 1
    """,
    doc="A5 50-bin histogram mode estimator, global (results.py:154-170) and "
    "per-group (mode_positions_by_par shape), tag-discriminated in one gate.",
)
def hist_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    global_part = histogram_mode(
        table(spark, sf_dir, "lineitem"), "l_extendedprice", 50
    ).select(F.lit("lineitem_price").alias("grp"), "bucket", "cnt", "mode_position")

    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.min("value").alias("_lo"), F.max("value").alias("_hi")
    )
    w = (F.col("_hi") - F.col("_lo")) / 50
    bucketed = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        F.least(
            F.floor((F.col("value") - F.col("_lo")) / w).cast("bigint"), F.lit(49)
        ).alias("bucket"),
        "_lo",
        "_hi",
    )
    counted = bucketed.groupBy("event_type", "bucket", "_lo", "_hi").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    win = Window.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("bucket"))
    typed = (
        counted.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("event_type").alias("grp"),
            "bucket",
            "cnt",
            F.round(
                F.col("_lo") + F.col("bucket") * (F.col("_hi") - F.col("_lo")) / 50, 6
            ).alias("mode_position"),
        )
    )
    return global_part.unionByName(typed)


@register(
    "weighted_error_stats",
    """
    SELECT 'wavg_lineitem' AS op, l_returnflag AS grp,
           ROUND(SUM(l_extendedprice/(l_quantity*l_quantity)) / SUM(1.0/(l_quantity*l_quantity)), 3) AS s1,
           ROUND(SQRT(1.0 / SUM(1.0/(l_quantity*l_quantity))), 9) AS s2
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'rms_events' AS op, event_type AS grp,
           ROUND(SQRT(CAST(SUM(CAST(value*value AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*)), 6) AS s1,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(14,6))) AS DOUBLE) / COUNT(*), 6) AS s2
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'wmedian_orders' AS op, grp, s1, s2 FROM (
      WITH w AS (
        SELECT o_orderpriority AS grp, o_totalprice AS v,
               CAST(o_orderkey % 7 + 1 AS DOUBLE) AS wt
        FROM orders
      ),
      c AS (
        SELECT grp, v, wt,
               SUM(wt) OVER (PARTITION BY grp ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(wt) OVER (PARTITION BY grp) AS tot
        FROM w
      )
      SELECT grp, MIN(v) AS s1, ANY_VALUE(tot) AS s2
      FROM c WHERE cw >= tot / 2.0 GROUP BY grp
    )
    """,
    doc="A7 inverse-variance weighted mean (results.py:276-284) + A10 "
    "per-backend RMS/mean error stats (libstempo_warp.py:93-98) + the r5 "
    "distributed weighted median (operators/weighted.py weighted_median, "
    "lower-median convention; integer weights keep the cumulative sums "
    "exact), tag-discriminated: (op, grp, s1, s2) = (wavg, werr) | "
    "(rms, mean) | (wmedian, total_weight).",
)
def weighted_error_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    wm = weighted_mean(
        table(spark, sf_dir, "lineitem"), "l_extendedprice", "l_quantity",
        ["l_returnflag"], round_avg=3, round_err=9,
    ).select(
        F.lit("wavg_lineitem").alias("op"),
        F.col("l_returnflag").alias("grp"),
        F.col("wavg").alias("s1"),
        F.col("werr").alias("s2"),
    )
    ev = table(spark, sf_dir, "events")
    v2 = (F.col("value") * F.col("value")).cast(DecimalType(20, 8))
    v = F.col("value").cast(DecimalType(14, 6))
    rms = ev.groupBy("event_type").agg(
        F.round(F.sqrt(F.sum(v2).cast("double") / F.count(F.lit(1))), 6).alias("s1"),
        F.round(F.sum(v).cast("double") / F.count(F.lit(1)), 6).alias("s2"),
    ).select(
        F.lit("rms_events").alias("op"), F.col("event_type").alias("grp"), "s1", "s2"
    )
    from enterprise_warp_spark.operators.weighted import weighted_median

    wo = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderkey") % 7 + 1).cast("double").alias("wt"),
    )
    med = weighted_median(wo, "v", "wt", ["grp"])
    tot = wo.groupBy("grp").agg(F.sum("wt").alias("tot"))
    wmed = med.join(F.broadcast(tot), "grp").select(
        F.lit("wmedian_orders").alias("op"), "grp",
        F.col("wmedian").alias("s1"), F.col("tot").alias("s2"),
    )
    return wm.unionByName(rms).unionByName(wmed)


@register(
    "ntile_bins_orders",
    """
    WITH t AS (
      SELECT o_totalprice, CAST(NTILE(8) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS bin
      FROM orders
    )
    SELECT bin, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(19,2))) AS DOUBLE), 2) AS sum_price,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
           ROUND(STDDEV_SAMP(o_totalprice), 2) AS std_price
    FROM t GROUP BY bin
    UNION ALL
    SELECT CAST(1000 + xg.gi * 10 + xr.pi AS INTEGER) AS bin, xr.rank AS n,
           ROUND(CAST(xr.cnt AS DOUBLE), 2) AS sum_price, xr.v, xr.v,
           ROUND(CAST(xr.p AS DOUBLE), 2) AS std_price
    FROM (
      SELECT q.g, xp.p, xp.pi, q.rn AS rank, q.cnt, q.v
      FROM (
        SELECT o_orderpriority AS g, o_totalprice AS v,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
        FROM orders
      ) q JOIN (SELECT UNNEST([0.5, 0.9]) AS p, UNNEST([0, 1]) AS pi) xp
        ON q.rn = CAST(FLOOR((q.cnt - 1) * xp.p) + 1 AS BIGINT)
    ) xr JOIN (
      SELECT g, ROW_NUMBER() OVER (ORDER BY g) - 1 AS gi
      FROM (SELECT DISTINCT o_orderpriority AS g FROM orders)
    ) xg USING (g)
    """,
    doc="A8 fixed-count binned stats via distributed two-phase ranking — no "
    "single-partition window sort (results.py:305-346). Plus [bin >= 1000] "
    "EXACT per-priority order statistics (p50/p90 of o_totalprice) from "
    "operators/binning.py exact_rank_select — staged histogram selection "
    "(distributed quickselect): count/min/max pass, one histogram "
    "aggregate per level over all tasks at once, bounded final collect; "
    "no stage sorts more than collect_cap rows. Columns overloaded: bin = "
    "1000 + group_index*10 + prob_index, n = rank, sum_price = group row "
    "count, min/max = the selected value, std_price = the prob.",
)
def ntile_bins_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from enterprise_warp_spark.operators.binning import exact_rank_select

    orders = table(spark, sf_dir, "orders")
    # the two-phase rank (sample + checkpoint + offsets collect) and the
    # staged quickselect (stats + histogram + bounded collect) are
    # independent driver-side job chains, so neither waits on the other
    base, res = run_branches(spark, "ntile_bins_orders", {
        "ntile": lambda _: ntile_bins_scalable(
            # project to the two columns the ranking and the aggs touch
            # BEFORE the range exchange (guide §2.3): the two-phase rank
            # checkpoints its ranged input, so every dropped column is
            # saved twice (shuffle bytes + materialized checkpoint)
            orders.select("o_totalprice", "o_orderkey"),
            ["o_totalprice", "o_orderkey"],
            8,
            aggs=[
                F.count(F.lit(1)).alias("n"),
                _dsum("o_totalprice", 19, 2).alias("sum_price"),
                F.min("o_totalprice").alias("min_price"),
                F.max("o_totalprice").alias("max_price"),
                F.round(F.stddev_samp("o_totalprice"), 2).alias("std_price"),
            ],
        ),
        "rank_select": lambda _: exact_rank_select(
            orders, "o_orderpriority", "o_totalprice",
            probs=(0.5, 0.9), collect_cap=20_000,
        ),
    })
    gi = {g: i for i, g in enumerate(sorted({t["group"] for t in res}))}
    pidx = {0.5: 0, 0.9: 1}
    rows = [
        (
            1000 + gi[t["group"]] * 10 + pidx[t["p"]],
            t["rank"],
            float(t["n"]),
            t["value"],
            t["value"],
            round(t["p"], 2),
        )
        for t in res
    ]
    xdf = spark.createDataFrame(
        rows,
        schema="bin int, n bigint, sum_price double, min_price double, "
        "max_price double, std_price double",
    )
    return base.unionByName(xdf)


@register(
    "range_bins_part",
    """
    SELECT CAST(FLOOR(p_retailprice/100) AS BIGINT) AS bucket, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(19,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price
    FROM part GROUP BY 1
    """,
    doc="A9 fixed-width range bins (results.py:286-303).",
)
def range_bins_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return (
        p.withColumn("bucket", F.floor(F.col("p_retailprice") / 100).cast("bigint"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _davg("p_retailprice", 19, 2).alias("avg_price"),
        )
    )


@register(
    "chain_census_ops",
    """
    WITH t AS (SELECT event_id, CAST(ROW_NUMBER() OVER (ORDER BY event_id) AS INTEGER) AS rn FROM events),
    b AS (
      SELECT value, ROW_NUMBER() OVER (ORDER BY event_id) AS rn, COUNT(*) OVER () AS n
      FROM events
    )
    SELECT 'census' AS op, event_type AS key,
           COUNT(*) AS n, CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS v
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'tspan' AS op, CAST(user_id AS VARCHAR) AS key,
           COUNT(*) AS n, CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS DOUBLE) AS v
    FROM events GROUP BY user_id
    UNION ALL
    SELECT 'thin' AS op, CAST(event_id AS VARCHAR) AS key, 0 AS n,
           CAST(rn AS DOUBLE) AS v
    FROM t WHERE (rn - 1) % 100 = 0
    UNION ALL
    SELECT 'burnin' AS op, '' AS key, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(14,6))) AS DOUBLE) / COUNT(*), 6) AS v
    FROM b WHERE rn > FLOOR(0.25 * n)
    """,
    doc="A11 backend census (distinct flag values per group, "
    "libstempo_warp.py:60-75) + A1 observation span per group (exact int64 "
    "microseconds) + P6 thinning (numpy chain[::k], results.py:670,691) + "
    "P5 burn-in (drop first 25%, results.py:499-500), tag-discriminated in "
    "one gate (r6 consolidation of census_tspan_events + chain_thin_burnin "
    "to free a driver-artifact slot).",
)
def chain_census_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    census = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").cast("double").alias("v"),
        )
        .select(F.lit("census").alias("op"), F.col("event_type").alias("key"), "n", "v")
    )
    tspan = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            .cast("double")
            .alias("v"),
        )
        .select(
            F.lit("tspan").alias("op"), F.col("user_id").cast("string").alias("key"),
            "n", "v",
        )
    )
    thinned = (
        thin(ev.select("event_id"), "event_id", 100, with_rank=True)
        .select(
            F.lit("thin").alias("op"),
            F.col("event_id").cast("string").alias("key"),
            F.lit(0).cast("long").alias("n"),
            F.col("_rn").cast("double").alias("v"),
        )
    )
    kept = burnin_filter(ev.select("event_id", "value"), "event_id", 0.25)
    burned = kept.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(_davg("value", 14, 6), 6).alias("v"),
    ).select(F.lit("burnin").alias("op"), F.lit("").alias("key"), "n", "v")
    return census.unionByName(tspan).unionByName(thinned).unionByName(burned)


# ---------------------------------------------------------------------------
# Pair joins + ORF math (J6, F8) and other joins/set-ops
# ---------------------------------------------------------------------------


@register(
    "pair_hd_orf",
    """
    WITH p AS (
      SELECT a.s_suppkey AS a_suppkey, b.s_suppkey AS b_suppkey,
             (a.s_suppkey*37 + b.s_suppkey*53) % 179 + 1 AS zeta_deg
      FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
    ),
    px AS (
      SELECT a_suppkey, b_suppkey, zeta_deg,
             (1.0 - COS(RADIANS(CAST(zeta_deg AS DOUBLE)))) / 2.0 AS x
      FROM p
    )
    SELECT a_suppkey, b_suppkey, zeta_deg,
           ROUND(1.5*x*LN(x) - 0.25*x + 0.5, 9) AS hd
    FROM px
    """,
    doc="J6 unordered-pair self-join + F8 Hellings-Downs ORF (results.py:138-144).",
)
def pair_hd_orf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The intentional a<b BroadcastNestedLoopJoin stays (output quadratic
    # by pair-join semantics) — but the LEFT side must be spread (r15,
    # guide §2): a single-file supplier scan is ONE partition, so the
    # whole O(N^2) pair stream (join, trig, round, sink) ran on one core
    # regardless of cluster width. spread() is a no-op once the scan is
    # at least cluster-parallel (the 100 TB case); at the sf1 scale
    # point it is 22.6s -> 1.6s, bit-identical output. Rewriting the
    # pair generation itself (broadcast sorted-key array + per-row
    # filter/slice explode, BHJ via non-foldable key) measured FLAT to
    # worse — pair enumeration was never the cost, the serial stage was.
    s = table(spark, sf_dir, "supplier").select("s_suppkey")
    # only the PROBE side spreads — the build side is broadcast whole, so
    # repartitioning it would be one more (tiny but pointless) shuffle
    a = spread(s, "s_suppkey").select(F.col("s_suppkey").alias("a_suppkey"))
    b = s.select(F.col("s_suppkey").alias("b_suppkey"))
    pairs = a.join(F.broadcast(b), F.col("a_suppkey") < F.col("b_suppkey"))
    zeta_deg = (F.col("a_suppkey") * 37 + F.col("b_suppkey") * 53) % 179 + 1
    zeta = F.radians(zeta_deg.cast("double"))
    return pairs.select(
        "a_suppkey",
        "b_suppkey",
        zeta_deg.alias("zeta_deg"),
        F.round(hd_orf(zeta), 9).alias("hd"),
    )


@register(
    "string_predicate_select",
    """
    SELECT 'token' AS op, token AS key, COUNT(*) AS n, 0.0 AS v
    FROM documents d
    JOIN (VALUES ('spark'),('hash'),('join'),('window'),('stream')) t(token)
      ON contains(d.text, t.token)
    GROUP BY token
    UNION ALL
    SELECT 'regex' AS op, source AS key, COUNT(*) AS n, 0.0 AS v
    FROM documents
    WHERE regexp_matches(source, '^src1[0-9]?$')
    GROUP BY source
    UNION ALL
    SELECT 'flag' AS op, event_type AS key, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(14,6))) AS DOUBLE), 2) AS v
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
    GROUP BY event_type
    UNION ALL
    SELECT 'substr' AS op, event_type AS key, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(14,6))) AS DOUBLE), 2) AS v
    FROM events
    WHERE event_type LIKE '%ck%' OR event_type LIKE '%error%'
    GROUP BY event_type
    """,
    doc="J2 substring/theta join (noise-file filename contains pulsar name) + "
    "P8/P9 regex name predicates (psr-dir / chain-segment matching) + P1 "
    "flag-equality selection (JSON props filter) + P4 name-substring column "
    "selection (results.py:516-524), tag-discriminated in one gate (r6 "
    "consolidation: absorbs the former flag_substring_select to free a "
    "driver-artifact slot).",
)
def string_predicate_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    import pandas as pd

    # Arrow path (LocalTableScan), not RDD-parallelize over 32 slices
    tokens = spark.createDataFrame(
        pd.DataFrame({"token": ["spark", "hash", "join", "window", "stream"]})
    )
    tok = (
        docs.join(F.broadcast(tokens), F.col("text").contains(F.col("token")))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("token").alias("op"), F.col("token").alias("key"), "n",
            F.lit(0.0).alias("v"),
        )
    )
    rex = (
        docs.filter(F.col("source").rlike("^src1[0-9]?$"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("regex").alias("op"), F.col("source").alias("key"), "n",
            F.lit(0.0).alias("v"),
        )
    )
    ev = table(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("n"), _dsum("value", 14, 6).alias("v")]
    flag = (
        ev.filter(F.get_json_object("props", "$.k").cast("int") >= 50)
        .groupBy("event_type")
        .agg(*aggs)
        .select(
            F.lit("flag").alias("op"), F.col("event_type").alias("key"), "n", "v"
        )
    )
    substr = (
        ev.filter(
            F.col("event_type").like("%ck%") | F.col("event_type").like("%error%")
        )
        .groupBy("event_type")
        .agg(*aggs)
        .select(
            F.lit("substr").alias("op"), F.col("event_type").alias("key"), "n", "v"
        )
    )
    return tok.unionByName(rex).unionByName(flag).unionByName(substr)


@register(
    "anti_join_lineitem",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(19,2))) AS DOUBLE), 2) AS sum_qty
    FROM lineitem
    WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey AND p_size > 40)
    GROUP BY l_returnflag
    """,
    doc="X3 anti-membership (covm row deletion, results.py:567-575).",
)
def anti_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    big_parts = table(spark, sf_dir, "part").filter(F.col("p_size") > 40).select("p_partkey")
    return (
        li.join(F.broadcast(big_parts), li.l_partkey == big_parts.p_partkey, "left_anti")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), _dsum("l_quantity", 19, 2).alias("sum_qty"))
    )


# (nation_set_ops was folded into queries_olap.grouping_sets_orders as the
#  'set_intersect'/'set_union' branches — r6 verdict Next #1's 50-entry-cap
#  consolidation; X1/X2 keep their hash coverage under the merged gate.)


# ---------------------------------------------------------------------------
# Windows / ordering / chain-management (P5, P6, W3, W4)
# ---------------------------------------------------------------------------


@register(
    "top3_orders_per_customer",
    """
    WITH t AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM t WHERE rnk <= 3
    """,
    doc="W4 per-group ranking window (bin-cursor pattern, results.py:324-335).",
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


# (The batch hourly rollup was folded into `streaming_hourly_rollup`, whose
# oracle SQL is byte-identical — the streaming gate proves stream==batch.)

# Pipeline-operator catalog entries register themselves on import (kept in a
# separate module to keep this file focused on the reference-derived surface).
from enterprise_warp_spark import queries_pipeline  # noqa: E402,F401
from enterprise_warp_spark import queries_extra  # noqa: E402,F401
from enterprise_warp_spark import queries_kernel  # noqa: E402,F401
from enterprise_warp_spark import queries_olap  # noqa: E402,F401
from enterprise_warp_spark import queries_temporal  # noqa: E402,F401
from enterprise_warp_spark import queries_curation  # noqa: E402,F401
from enterprise_warp_spark import queries_hygiene  # noqa: E402,F401
from enterprise_warp_spark import queries_search  # noqa: E402,F401
from enterprise_warp_spark import queries_sketch  # noqa: E402,F401
