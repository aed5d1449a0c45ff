"""Chain analytics — the reference's results pipeline (results.py:359-700)
re-expressed over the long-form chains table (run_id, step, par, value).

Reference semantics reproduced:
  burn_in                  drop first 25% of samples (results.py:499-500)
  model_posterior_counts   A2 round(nmodel) counts (results.py:502-507)
  log_bayes_factors_from_chain  A3 ln(count_j/count_i) (results.py:605-616)
  credible_levels_by_par   A4 16/50/84 percentiles (results.py:201-213)
  mode_positions_by_par    A5 50-bin histogram argmax left edge
                           (results.py:154-170 dist_mode_position)
  noise_summary            A6 per-par estimator routing: 'efac'/'equad' ->
                           mode, otherwise median (results.py:172-234
                           suitable_estimator + make_noise_files input)

A4, A5 and A6 are selects over one grouped pass, `par_stats`, whose keys
all start with run_id: over the results ingest's frame (hash-partitioned on
run_id) it runs without another shuffle. `stats_by_run` folds that pass
into one row per run, the noise file document included, so a results
command collects every statistic it writes at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def burn_in(chain_long: DataFrame, frac: float = 0.25) -> DataFrame:
    """P5 — drop the first `frac` of steps per run (step is 0-based)."""
    bounds = chain_long.groupBy("run_id").agg(
        F.floor((F.max("step") + 1) * frac).alias("_burn")
    )
    return (
        chain_long.join(F.broadcast(bounds), "run_id")
        .filter(F.col("step") >= F.col("_burn"))
        .drop("_burn")
    )


def model_posterior_counts(chain_long: DataFrame, nmodel_par: str = "nmodel") -> DataFrame:
    return (
        chain_long.filter(F.col("par") == nmodel_par)
        .select("run_id", F.round("value", 0).cast("bigint").alias("nmodel"))
        .groupBy("run_id", "nmodel")
        .agg(F.count(F.lit(1)).alias("n_samples"))
    )


def log_bayes_factors_from_chain(chain_long: DataFrame) -> DataFrame:
    counts = model_posterior_counts(chain_long)
    a = counts.select("run_id", F.col("nmodel").alias("model_a"), F.col("n_samples").alias("n_a"))
    b = counts.select("run_id", F.col("nmodel").alias("model_b"), F.col("n_samples").alias("n_b"))
    return (
        a.join(b, "run_id")
        .filter(F.col("model_a") < F.col("model_b"))
        .select(
            "run_id",
            "model_a",
            "model_b",
            F.log(F.col("n_b") / F.col("n_a")).alias("log_bf"),
        )
    )


STAT_COLUMNS = ("par", "p16", "p50", "p84", "mode_position", "lo", "hi")


def par_stats(chain_long: DataFrame, bins: int = 50) -> DataFrame:
    """A4 + A5 in one grouped pass -> (run_id, par, p16, p50, p84,
    mode_position, lo, hi): the credible levels, the histogram argmax left
    edge (numpy.histogram, results.py:154-170 dist_mode_position) and the
    value range of every (run_id, par). min, max and one percentile call
    are window aggregates; the values are then counted per bucket and the
    first bucket of highest count wins. Every key starts with run_id, so a
    frame hash-partitioned on run_id is not shuffled again."""
    w = Window.partitionBy("run_id", "par")
    lo, hi = F.col("lo"), F.col("hi")
    probs = F.array(F.lit(0.16), F.lit(0.5), F.lit(0.84))
    counted = chain_long.select(
        "run_id", "par", "value",
        F.min("value").over(w).alias("lo"),
        F.max("value").over(w).alias("hi"),
        F.percentile("value", probs).over(w).alias("q"),
    ).groupBy(
        "run_id", "par", "lo", "hi", "q",
        # degenerate chains (all values equal — e.g. a constant-prior
        # column) have zero width: everything lands in bucket 0 and the
        # mode is the value itself, instead of an ANSI divide-by-zero
        F.when(hi == lo, F.lit(0)).otherwise(F.least(
            F.floor((F.col("value") - lo) / ((hi - lo) / bins)).cast("bigint"),
            F.lit(bins - 1),
        )).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    top = w.orderBy(F.desc("cnt"), F.asc("bucket"))
    first = counted.withColumn("_r", F.row_number().over(top)).filter("_r = 1")
    return first.select(
        "run_id", "par",
        *[F.col("q")[i].alias(c) for i, c in enumerate(("p16", "p50", "p84"))],
        (lo + F.col("bucket") * (hi - lo) / bins).alias("mode_position"),
        "lo", "hi",
    )


def credible_levels_by_par(chain_long: DataFrame) -> DataFrame:
    """A4 — 16/50/84 percentiles per (run_id, par) (results.py:201-213)."""
    return par_stats(chain_long).select("run_id", "par", "p16", "p50", "p84")


def mode_positions_by_par(chain_long: DataFrame, bins: int = 50) -> DataFrame:
    """A5 — numpy.histogram(50) argmax left edge, per (run_id, par)."""
    return par_stats(chain_long, bins).select("run_id", "par", "mode_position")


def _noise_value() -> F.Column:
    """suitable_estimator (results.py:172-182): efac/equad-like params use
    the histogram mode, others the median."""
    by_mode = F.col("par").rlike("efac|equad")
    return F.when(by_mode, F.col("mode_position")).otherwise(F.col("p50")).alias("value")


def noise_summary(chain_long: DataFrame) -> DataFrame:
    """A6 — the (run_id, par, value) dict make_noise_files
    (results.py:215-248) serializes."""
    return par_stats(chain_long).select("run_id", "par", _noise_value())


def _noise_json(value: F.Column) -> F.Column:
    """The group's (par, value) pairs as one sorted-key flat JSON object."""
    pairs = F.sort_array(F.collect_list(F.struct("par", value)))
    return F.to_json(F.map_from_entries(pairs)).alias("noise_json")


def noise_files_json(noise: DataFrame) -> DataFrame:
    """K2 — one sorted-key JSON document per run (PAL2 flat format)."""
    return noise.groupBy("run_id").agg(_noise_json(F.col("value")))


def stats_by_run(chain_long: DataFrame) -> DataFrame:
    """par_stats folded per run -> (run_id, noise_json, stats): the run's
    noise file document (noise_files_json of its noise_summary) and its
    par_stats rows, so one collect feeds every results sink."""
    return par_stats(chain_long).groupBy("run_id").agg(
        _noise_json(_noise_value()),
        F.collect_list(F.struct(*STAT_COLUMNS)).alias("stats"),
    )


