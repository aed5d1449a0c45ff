"""Deterministic sampling operators (operators/sampling.py).

Key property under test: the sample is a pure function of (key, seed) —
stable across runs and repartitioning.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from enterprise_warp_spark.operators.sampling import split_dataset, stratified_sample
from enterprise_warp_spark.tables import table


def test_stratified_sample_rates(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    per_lang = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    langs = sorted(per_lang)
    rates = {langs[0]: 1.0, langs[1]: 0.2}
    got = stratified_sample(docs, "lang", rates, "doc_id", seed=5)
    got_counts = {r["lang"]: r["n"] for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # rate-1.0 stratum kept whole; absent strata dropped (default 0)
    assert got_counts[langs[0]] == per_lang[langs[0]]
    assert set(got_counts) <= {langs[0], langs[1]}
    import math

    n1 = per_lang[langs[1]]
    assert abs(got_counts.get(langs[1], 0) - 0.2 * n1) < 5 * math.sqrt(n1 * 0.2 * 0.8)
    # sampled rows are a subset of the keep-all stratum plus sampled stratum
    assert got.count() == got_counts[langs[0]] + got_counts.get(langs[1], 0)


def test_split_dataset_disjoint_stable(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    out = split_dataset(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=1)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = docs.count()
    assert sum(counts.values()) == n  # total partition, no dropped rows
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # stability under appends: the split of existing rows is unchanged when
    # computed over a subset (pure function of the key)
    sub = split_dataset(docs.filter("doc_id < 100"), "doc_id",
                        {"train": 0.8, "val": 0.1, "test": 0.1}, seed=1)
    full = {r["doc_id"]: r["split"] for r in out.filter("doc_id < 100").collect()}
    assert {r["doc_id"]: r["split"] for r in sub.collect()} == full
    with pytest.raises(ValueError):
        split_dataset(docs, "doc_id", {"a": 0.5, "b": 0.6})


def test_normalize_text(spark):
    from enterprise_warp_spark.pipeline.text import normalize_text

    docs = spark.createDataFrame(
        [(1, "  Hello\tWORLD  \n multiple   spaces "), (2, "already clean")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text_norm"] for r in normalize_text(docs).collect()}
    assert got[1] == "hello world multiple spaces"
    assert got[2] == "already clean"


def test_probit_accuracy(spark):
    """Acklam inverse-normal-CDF column: known quantiles to ~1e-8."""
    import pandas as pd

    from enterprise_warp_spark.likelihood.sampling import probit

    known = {
        0.5: 0.0,
        0.975: 1.959963984540054,
        0.025: -1.959963984540054,
        0.84134474606854293: 1.0,
        0.999: 3.090232306167813,
        0.001: -3.090232306167813,
        0.01: -2.3263478740408408,
    }
    df = spark.createDataFrame(pd.DataFrame({"p": list(known)}))
    got = {r["p"]: r["x"] for r in df.select("p", probit(F.col("p")).alias("x")).collect()}
    for p, want in known.items():
        assert got[p] == pytest.approx(want, abs=5e-8), p


def test_truncnormal_prior_bounds_and_moments(spark):
    """truncnormal (bilby_warp.py:67-68 TruncatedGaussian): samples honor
    the bounds exactly and match the analytic truncated-normal moments."""
    import math

    from enterprise_warp_spark.likelihood.sampling import Prior, sample_priors

    mu, sigma, lo, hi = 1.0, 0.4, 0.5, 1.6
    pri = [Prior("efac", "truncnormal", mu, sigma, lo=lo, hi=hi)]
    df = sample_priors(spark, pri, 40_000, seed=17).cache()
    row = df.agg(
        F.min("efac"), F.max("efac"), F.avg("efac"), F.stddev_samp("efac")
    ).first()
    assert row[0] >= lo and row[1] <= hi

    def phi(x):
        return math.exp(-0.5 * x * x) / math.sqrt(2 * math.pi)

    def Phi(x):
        return (1.0 + math.erf(x / math.sqrt(2.0))) / 2.0

    a, b = (lo - mu) / sigma, (hi - mu) / sigma
    Z = Phi(b) - Phi(a)
    mean = mu + sigma * (phi(a) - phi(b)) / Z
    var = sigma**2 * (
        1 + (a * phi(a) - b * phi(b)) / Z - ((phi(a) - phi(b)) / Z) ** 2
    )
    assert row[2] == pytest.approx(mean, abs=0.01)
    assert row[3] == pytest.approx(math.sqrt(var), abs=0.01)
    # deterministic under the seed
    again = sample_priors(spark, pri, 40_000, seed=17)
    assert df.exceptAll(again).count() == 0


def test_probit_clamps_open_interval_endpoints(spark):
    """ADVICE r4: probit(0) / probit(1) must be large-finite, never NaN —
    F.rand() can return exactly 0.0 and an infinite truncation bound maps it
    there (sqrt(-2 log 0) -> inf, tail ratio -> inf/inf = NaN)."""
    from enterprise_warp_spark.likelihood.sampling import probit

    row = spark.range(1).select(
        probit(F.lit(0.0)).alias("z0"),
        probit(F.lit(1.0)).alias("z1"),
        probit(F.lit(0.5)).alias("zm"),
    ).first()
    assert np.isfinite(row["z0"]) and row["z0"] < -7.0
    assert np.isfinite(row["z1"]) and row["z1"] > 7.0
    assert row["zm"] == pytest.approx(0.0, abs=1e-8)


def test_truncnormal_infinite_lower_bound_no_nan(spark):
    """truncnormal with lo=-inf: alpha=0, so u=0 rows hit probit(0) — every
    sampled value must be finite."""
    from enterprise_warp_spark.likelihood.sampling import Prior, sample_priors

    pr = [Prior("x", "truncnormal", 0.0, 1.0, float("-inf"), 2.0)]
    vals = sample_priors(spark, pr, 5000, seed=3).select("x").toPandas()["x"]
    assert np.isfinite(vals).all()
    assert (vals <= 2.0 + 1e-9).all()


def test_numpy_probit_matches_the_column_probit(spark):
    """The driver-side probit twin agrees with probit(Column) to 1e-12 on
    a grid through both tails, the central region and the clamped
    endpoints."""
    import pandas as pd

    from enterprise_warp_spark.likelihood.sampling import _probit_np, probit

    grid = np.unique(np.concatenate([
        [0.0, 1e-300, 1e-15, 1e-12, 1e-9, 1e-6, 1e-3, 0.02, 0.02425,
         0.5, 0.97575, 0.98, 1 - 1e-3, 1 - 1e-6, 1 - 1e-9, 1 - 1e-15, 1.0],
        np.linspace(0.0, 1.0, 2001),
    ]))
    df = spark.createDataFrame(pd.DataFrame({"p": grid}))
    col = df.select(probit(F.col("p")).alias("x")).toPandas()["x"].to_numpy()
    assert np.isfinite(col).all()
    np.testing.assert_allclose(_probit_np(grid), col, rtol=0, atol=1e-12)


DRAW_PRIORS = (
    ("u", "uniform", -18.0, -10.0, -np.inf, np.inf),
    ("la", "linearexp", -20.0, -11.0, -np.inf, np.inf),
    ("g", "normal", 1.0, 0.1, -np.inf, np.inf),
    ("t", "truncnormal", 1.0, 0.4, 0.5, 1.6),
    ("c", "constant", 2.5, 1.0, -np.inf, np.inf),
)


def test_draw_priors_bounds_moments_and_seed():
    """Every prior kind's driver draws stay in bounds and match its
    analytic mean and standard deviation; the table is a function of the
    seed alone, and a parameter's column does not depend on the others."""
    import math

    from enterprise_warp_spark.likelihood.sampling import Prior, draw_priors

    priors = [Prior(*args) for args in DRAW_PRIORS]
    n = 40_000
    tab = draw_priors(priors, n, seed=17)
    assert list(tab.columns) == ["sample_id", "u", "la", "g", "t", "c"]
    assert tab["sample_id"].tolist() == list(range(n))
    for name, lo, hi in (("u", -18.0, -10.0), ("la", -20.0, -11.0)):
        v = tab[name]
        assert lo <= v.min() and v.max() < hi
        assert v.mean() == pytest.approx((lo + hi) / 2, abs=0.05)
        assert v.std() == pytest.approx((hi - lo) / math.sqrt(12), abs=0.05)
    assert tab["g"].mean() == pytest.approx(1.0, abs=0.005)
    assert tab["g"].std() == pytest.approx(0.1, abs=0.005)

    def phi(x):
        return math.exp(-0.5 * x * x) / math.sqrt(2 * math.pi)

    def Phi(x):
        return (1.0 + math.erf(x / math.sqrt(2.0))) / 2.0

    mu, sigma, lo, hi = 1.0, 0.4, 0.5, 1.6
    a, b = (lo - mu) / sigma, (hi - mu) / sigma
    Z = Phi(b) - Phi(a)
    mean = mu + sigma * (phi(a) - phi(b)) / Z
    var = sigma**2 * (
        1 + (a * phi(a) - b * phi(b)) / Z - ((phi(a) - phi(b)) / Z) ** 2
    )
    assert lo <= tab["t"].min() and tab["t"].max() <= hi
    assert tab["t"].mean() == pytest.approx(mean, abs=0.01)
    assert tab["t"].std() == pytest.approx(math.sqrt(var), abs=0.01)
    assert (tab["c"] == 2.5).all()

    assert tab.equals(draw_priors(priors, n, seed=17))
    assert not tab["u"].equals(draw_priors(priors, n, seed=18)["u"])
    # parameter i reads stream [seed, i] only
    alone = draw_priors([priors[0], priors[2]], n, seed=17)
    assert alone["u"].equals(tab["u"])


def test_sample_priors_is_the_driver_table(spark):
    """sample_priors hands draw_priors' table to Spark unchanged."""
    from enterprise_warp_spark.likelihood.sampling import (
        Prior,
        draw_priors,
        sample_priors,
    )

    priors = [Prior(*args) for args in DRAW_PRIORS]
    got = sample_priors(spark, priors, 300, seed=5).toPandas()
    assert got.equals(draw_priors(priors, 300, seed=5))


def test_adaptive_posterior_n_per_round_contract(spark):
    """VERDICT r5 #8 — each CEM round's samples round-trip through the
    driver; the documented cap turns a silent driver OOM into a loud
    plan-time error."""
    from enterprise_warp_spark.likelihood.sampling import (
        MAX_ADAPTIVE_N_PER_ROUND,
        Prior,
        adaptive_posterior,
    )

    with pytest.raises(ValueError, match="n_per_round"):
        adaptive_posterior(
            spark,
            [Prior("x", "uniform", 0.0, 1.0)],
            lambda df: df.select("sample_id", F.lit(0.0).alias("lnl")),
            n_per_round=MAX_ADAPTIVE_N_PER_ROUND + 1,
        )


# ---------------------------------------------------------------------------
# DSIR (r8)
# ---------------------------------------------------------------------------


def _py_dsir_weights(raw_texts, target_texts, dim=64, smoothing=1.0):
    """Exact python twin of the portable-hash DSIR pipeline."""
    import hashlib
    import math
    from collections import Counter

    def grams(t):
        tok = [x for x in t.split(" ") if x]
        return tok + [f"{a} {b}" for a, b in zip(tok, tok[1:])]

    def bucket(g):
        h = hashlib.md5(g.encode()).hexdigest()[:15]
        return int(h, 16) % dim

    def dist(texts):
        c = Counter(bucket(g) for t in texts for g in grams(t))
        total = sum(c.values())
        return {
            b: math.log((c.get(b, 0) + smoothing) / (total + smoothing * dim))
            for b in range(dim)
        }

    lp, lq = dist(target_texts), dist(raw_texts)
    out = []
    for t in raw_texts:
        c = Counter(bucket(g) for g in grams(t))
        out.append(sum(n * (lp[b] - lq[b]) for b, n in c.items()))
    return out


def test_dsir_weights_match_python_twin(spark):
    from enterprise_warp_spark.operators.sampling import dsir_weights

    raw_texts = [
        "the quick brown fox", "spark shuffles data fast", "a b a b a",
        "slow scan of the table", "", "quick quick quick",
    ]
    target_texts = ["the quick fox jumps", "quick brown animals run"]
    raw = spark.createDataFrame(
        [(i, t) for i, t in enumerate(raw_texts)], "doc_id long, text string"
    )
    target = spark.createDataFrame(
        [(i, t) for i, t in enumerate(target_texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["dsir_logw"]
        for r in dsir_weights(raw, target, dim=64).collect()
    }
    want = _py_dsir_weights(raw_texts, target_texts, dim=64)
    for i, w in enumerate(want):
        assert got[i] == pytest.approx(w, rel=1e-9, abs=1e-9), i
    assert got[4] == 0.0  # empty text -> weight 0 by contract


