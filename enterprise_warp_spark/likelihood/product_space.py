"""Product-space (HyperModel) sampling — native nmodel-bearing posteriors.

Reference flow (examples/run_example_paramfile.py:31-45): when a paramfile
declares several `{N}` model sections, `enterprise_extensions.hypermodel.
HyperModel({0: pta0, 1: pta1, ...})` samples the UNION of the models'
parameter spaces plus a continuous model indicator `nmodel` uniform in
[-0.5, n_models - 0.5]; each sample is scored by the likelihood of
model `round(nmodel)` only. The nmodel-marginal posterior counts are the
posterior odds (equal model priors), consumed downstream by A2/A3
(results.py:502-511, 605-616).

Spark-native equivalent: importance sampling over the same product space.

  1. compile every model section to (priors, kernel components)
     (likelihood/inference.compile_priors_and_components);
  2. sample the union parameter space + nmodel from the prior
     (sampling.sample_priors: numpy draws on the driver);
  3. partition samples by round(nmodel) and score each slice with ITS
     model's GP kernel only (gp_loglik_per_pulsar) — like the reference,
     a sample never pays for the other models' likelihoods;
  4. importance weights w = exp(lnl - max lnl) turn the prior sample into
     a posterior; a deterministic systematic resample produces an
     UNWEIGHTED posterior chain carrying `nmodel`, so the existing A2/A3
     chain analytics (model_counts / log_bayes_factors) run on the
     engine's own output byte-for-byte like on an MCMC chain;
  5. the per-model evidence is estimated directly from the same weights
     (log-mean-exp of lnl over each model's prior slice), giving ln Bayes
     factors with Occam penalty included.

A model section with NO red-noise components (white-only null model) is
scored through the same kernel with the amplitude pinned to 10^-20 — a
basis whose prior variance is ~27 orders below the white-noise level, i.e.
numerically the pure-white likelihood, without a separate code path.
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from enterprise_warp_spark.likelihood.gp import (
    RedComponent,
    gp_loglik_per_pulsar,
    sum_over_pulsars,
)
from enterprise_warp_spark.likelihood.inference import (
    check_sample_table_bound,
    compile_priors_and_components,
)
from enterprise_warp_spark.likelihood.sampling import Prior, sample_priors

# amplitude so small the GP term is numerically absent (white-only models)
NULL_LOG10_A = -20.0


def hypermodel_sample(
    spark: SparkSession,
    residuals: DataFrame,
    models: dict[int, list[dict]],
    n_samples: int = 1024,
    n_posterior: int | None = None,
    nfreqs: int = 20,
    seed: int = 42,
    fixed: dict[str, float] | None = None,
    backends: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """-> (posterior_chain, log_bf).

    models: {model_index: normalized model rows (§1.5)} — the paramfile's
    `{N}` sections. Same-named parameters are SHARED across models (the
    reference's HyperModel semantics: one column per unique parameter).
    An EMPTY row list is the white-noise-only null model HERE (its lnl
    carries no GP component) — deliberately different from
    run_inference's minimal-powerlaw fallback, which exists so a bare
    single-model config still infers something; a product-space run
    exists to COMPARE models, so the empty model must stay null.

    posterior_chain: (step, nmodel, <params...>, lnl) — an unweighted
    resampled posterior; feed `operators.relational.model_counts` /
    `log_bayes_factors` (A2/A3) directly.
    log_bf: (model_a, model_b, log_bf) from the importance-sampling evidence
    estimate ln(Z_b/Z_a), Z_i = mean over model-i prior draws of exp(lnl).
    """
    n_models = len(models)
    indices = sorted(models)
    if indices != list(range(n_models)):
        raise ValueError(f"model indices must be 0..{n_models - 1}, got {indices}")
    compiled = {
        i: compile_priors_and_components(models[i], fixed, nfreqs, backends)
        for i in indices
    }

    # union parameter space: same-named priors shared, ranges must agree
    union: dict[str, Prior] = {}
    for i in indices:
        for p in compiled[i][0]:
            if p.name in union and union[p.name] != p:
                raise ValueError(
                    f"prior {p.name} differs between models: {union[p.name]} vs {p}"
                )
            union.setdefault(p.name, p)
    priors = list(union.values()) + [
        Prior("nmodel", "uniform", -0.5, n_models - 0.5)
    ]
    # driver-side materialization bound: the per-model slices below sum to
    # at most n_samples x (union width + 2) cells
    check_sample_table_bound(
        n_samples, len(priors) + 2, "hypermodel_sample"
    )
    samples_df = (
        sample_priors(spark, priors, n_samples, seed)
        .withColumn(
            "_model",
            F.least(
                F.lit(n_models - 1),
                F.greatest(F.lit(0), F.round("nmodel").cast("int")),
            ),
        )
        .persist()
    )

    scored_parts: list[DataFrame] = []
    for i in indices:
        # the kernel closure gets ONLY this model's parameter columns (the
        # reference's HyperModel semantics: a sample is scored by the
        # likelihood of model round(nmodel) with ITS params — another
        # model's efac column must not leak into this model's white noise);
        # volume is bounded by n_samples x this model's width, never the
        # full union table
        keep = ["sample_id"] + [p.name for p in compiled[i][0]]
        slice_pd = (
            samples_df.filter(F.col("_model") == i).select(*keep).toPandas()
        )
        if slice_pd.empty:
            continue
        comps = compiled[i][1]
        if not comps:
            # white-only null model: pinned negligible-amplitude GP term
            comps = (RedComponent(nfreqs=2),)
            slice_pd["log10_A"] = NULL_LOG10_A
            slice_pd["gamma"] = 2.0
        lnl = spark.createDataFrame(sum_over_pulsars(
            gp_loglik_per_pulsar(
                residuals, slice_pd, nfreqs, components=comps
            ).toPandas()
        ))
        scored_parts.append(lnl.withColumn("model", F.lit(i)))
    if not scored_parts:
        raise ValueError("no samples to score — n_samples must be positive")
    scored = scored_parts[0]
    for part in scored_parts[1:]:
        scored = scored.unionByName(part)
    # lnl (summed over pulsars on the driver) joined back to the sampled
    # params on sample_id
    inf = float("inf")
    finite = (
        scored.join(samples_df.drop("_model"), "sample_id")
        .filter(~F.isnan("lnl") & (F.abs(F.col("lnl")) < F.lit(inf)))
        .persist()
    )

    # evidence per model: ln Z_i = logmeanexp(lnl over model-i prior draws);
    # distributed two-pass (per-model max, then mean-exp) — only the
    # per-model scalars are collected
    mx_df = finite.groupBy("model").agg(F.max("lnl").alias("_mx"))
    logz = {
        r["model"]: r["logz"]
        for r in (
            finite.join(F.broadcast(mx_df), "model")
            .groupBy("model")
            .agg(
                (
                    F.first("_mx")
                    + F.log(F.avg(F.exp(F.col("lnl") - F.col("_mx"))))
                ).alias("logz")
            )
            .collect()
        )
    }
    bf_rows = [
        (a, b, logz.get(b, -inf) - logz.get(a, -inf))
        for a in indices
        for b in indices
        if a < b
    ]
    log_bf = spark.createDataFrame(
        pd.DataFrame(bf_rows, columns=["model_a", "model_b", "log_bf"])
    )

    # deterministic systematic resample -> unweighted posterior chain,
    # computed DISTRIBUTEDLY: global weight prefix-sums via the two-phase
    # chunk trick (per-chunk partials collected as scalars, parallel
    # in-chunk cumsum + broadcast offset — packing.py's shape, never one
    # single-partition window), then each sample emits its own resample
    # count as an exploded [start, end) step range.
    from pyspark.sql import Window

    n_out = n_posterior or n_samples
    # systematic resampling: one uniform offset, deterministic given seed
    u0 = float(np.random.default_rng(seed).uniform())
    gstats = finite.agg(
        F.max("lnl").alias("mx"), F.count(F.lit(1)).alias("n")
    ).first()
    if gstats["n"] == 0:
        raise ValueError("all likelihoods non-finite; cannot resample")
    w_df = finite.withColumn("_w", F.exp(F.col("lnl") - F.lit(gstats["mx"])))
    total_w = w_df.agg(F.sum("_w")).first()[0]
    cs = max(1, -(-n_samples // residuals.sparkSession.sparkContext.defaultParallelism))
    w_df = w_df.withColumn("_chunk", (F.col("sample_id") / cs).cast("long"))
    chunk_sums = {
        r["_chunk"]: r["s"]
        for r in w_df.groupBy("_chunk").agg(F.sum("_w").alias("s")).collect()
    }
    offsets = {}
    acc = 0.0
    for c in sorted(chunk_sums):
        offsets[c] = acc
        acc += chunk_sums[c]
    off_df = spark.createDataFrame(
        pd.DataFrame(
            {"_chunk": list(offsets), "_off": [offsets[c] for c in offsets]}
        )
    )
    win = Window.partitionBy("_chunk").orderBy("sample_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (F.sum("_w").over(win) + F.col("_off")) / F.lit(total_w)
    start = F.greatest(
        F.lit(0).cast("long"),
        F.ceil(F.lit(float(n_out)) * (cum - F.col("_w") / F.lit(total_w)) - F.lit(u0)),
    )
    end = F.least(
        F.lit(int(n_out)).cast("long"),
        F.ceil(F.lit(float(n_out)) * cum - F.lit(u0)),
    )
    chain = (
        w_df.join(F.broadcast(off_df), "_chunk")
        .withColumn("_start", start)
        .withColumn("_end", end)
        .filter(F.col("_end") > F.col("_start"))
        .withColumn(
            "step", F.explode(F.sequence(F.col("_start"), F.col("_end") - 1))
        )
        .drop("sample_id", "model", "_w", "_chunk", "_off", "_start", "_end")
    )
    chain = chain.select("step", *[c for c in chain.columns if c != "step"])
    return chain, log_bf
