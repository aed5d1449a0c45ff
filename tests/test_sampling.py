"""Deterministic sampling operators (operators/sampling.py).

Key property under test: the sample is a pure function of (key, seed) —
stable across runs, repartitioning, and engines (DuckDB twin for the hash).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from enterprise_warp_spark.operators.sampling import (
    hash_sample,
    reservoir_sample,
    split_dataset,
    stratified_sample,
)
from enterprise_warp_spark.tables import table


def test_hash_sample_deterministic_and_accurate(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    n = docs.count()
    got = hash_sample(docs, "doc_id", 0.25, seed=7)
    ids1 = {r["doc_id"] for r in got.select("doc_id").collect()}
    # rerun + repartition -> identical membership
    ids2 = {
        r["doc_id"]
        for r in hash_sample(docs.repartition(13), "doc_id", 0.25, seed=7)
        .select("doc_id")
        .collect()
    }
    assert ids1 == ids2
    # fraction within binomial 5-sigma
    import math

    sigma = math.sqrt(n * 0.25 * 0.75)
    assert abs(len(ids1) - 0.25 * n) < 5 * sigma
    # different seed -> different (mostly independent) membership
    ids3 = {
        r["doc_id"]
        for r in hash_sample(docs, "doc_id", 0.25, seed=8).select("doc_id").collect()
    }
    assert ids3 != ids1
    with pytest.raises(ValueError):
        hash_sample(docs, "doc_id", 1.5)


def test_hash_sample_matches_duckdb_twin(spark, sf_dir):
    """The same keep-decision is expressible in ANSI SQL — cross-engine
    reproducibility, the property F.rand() sampling cannot give."""
    docs = table(spark, sf_dir, "documents")
    ids_spark = sorted(
        r["doc_id"]
        for r in hash_sample(docs, "doc_id", 0.1, seed=3).select("doc_id").collect()
    )
    con = duckdb.connect()
    ids_duck = [
        r[0]
        for r in con.sql(
            f"""
            SELECT doc_id FROM '{sf_dir}/documents.parquet'
            WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|3'), 1, 15) AS BIGINT)
                  / CAST(16.0**15 AS DOUBLE) < 0.1
            ORDER BY doc_id
            """
        ).fetchall()
    ]
    assert ids_spark == ids_duck


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


def test_reservoir_sample_exact_k_deterministic(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    s1 = sorted(r["doc_id"] for r in reservoir_sample(docs, 17, "doc_id", seed=2).collect())
    s2 = sorted(
        r["doc_id"]
        for r in reservoir_sample(docs.repartition(7), 17, "doc_id", seed=2).collect()
    )
    assert len(s1) == 17 and s1 == s2
    assert "__h" not in reservoir_sample(docs, 3, "doc_id").columns
    # k >= n returns everything
    assert reservoir_sample(docs.limit(5), 100, "doc_id").count() == 5


def test_reservoir_plan_is_take_ordered(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    plan = reservoir_sample(docs, 10, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # heap-merge, not a global sort


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


def test_weighted_sample(spark, sf_dir):
    from enterprise_warp_spark.operators.sampling import weighted_sample

    docs = table(spark, sf_dir, "documents")
    # weight 1 keeps everything; weight 0 keeps nothing
    n = docs.count()
    assert weighted_sample(docs, "doc_id", F.lit(1.0)).count() == n
    assert weighted_sample(docs, "doc_id", F.lit(0.0)).count() == 0
    assert weighted_sample(docs, "doc_id", F.lit(7.5)).count() == n  # clamped
    # row-specific weights: low-weight stratum kept less often
    w = F.when(F.col("doc_id") % 2 == 0, 0.9).otherwise(0.1)
    kept = weighted_sample(docs, "doc_id", w, seed=3).collect()
    even = sum(1 for r in kept if r["doc_id"] % 2 == 0)
    odd = len(kept) - even
    assert even > 3 * odd
    # deterministic across repartition
    ids1 = {r["doc_id"] for r in kept}
    ids2 = {
        r["doc_id"]
        for r in weighted_sample(docs.repartition(9), "doc_id", w, seed=3).collect()
    }
    assert ids1 == ids2


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


def test_dsir_select_prefers_target_like_docs(spark):
    """Two stylistically distinct sub-corpora in raw; target drawn from one
    style: the top-k selection must be dominated by that style (the
    paper's headline behavior), deterministically across repartitions."""
    import random

    from enterprise_warp_spark.operators.sampling import dsir_select

    rng = random.Random(5)
    sci = ["energy flux spectrum detector noise model likelihood posterior"]
    web = ["click here buy now free offer deal sale discount shop"]

    def doc(words, n=8):
        return " ".join(rng.choice(words[0].split()) for _ in range(n))

    raw_rows = [(i, doc(sci)) for i in range(100)] + [
        (100 + i, doc(web)) for i in range(100)
    ]
    target_rows = [(i, doc(sci)) for i in range(40)]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    picked = dsir_select(raw, target, k=50, dim=256, seed=3)
    ids = [r["doc_id"] for r in picked.collect()]
    assert len(ids) == 50
    sci_share = sum(1 for i in ids if i < 100) / 50
    assert sci_share > 0.9, sci_share
    # deterministic under repartitioning (hash noise, not rand())
    ids2 = [
        r["doc_id"]
        for r in dsir_select(
            raw.repartition(13), target.repartition(7), k=50, dim=256, seed=3
        ).collect()
    ]
    assert sorted(ids) == sorted(ids2)


def test_dsir_select_plan_is_topk_not_global_sort(spark):
    """The selection must be TakeOrderedAndProject (per-partition heaps),
    never a global Sort, and the ratio table must broadcast."""
    import contextlib
    import io

    from enterprise_warp_spark.operators.sampling import dsir_select

    raw = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 3}") for i in range(200)],
        "doc_id long, text string",
    )
    target = raw.filter("doc_id % 2 = 0")
    df = dsir_select(raw, target, k=10, dim=64)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


def test_weighted_topk_sample_matches_gumbel_topk(spark):
    """A-ES exponential keys and Gumbel-top-k over log-weights are the same
    sampler: ln(-ln(u)/w) = -(ln w + Gumbel(u)), so with the SAME unit
    hash per row the two orderings are exact mirrors — the selected sets
    must be identical."""
    import math

    from pyspark.sql import functions as F

    from enterprise_warp_spark.operators.sampling import (
        _unit_hash,
        weighted_topk_sample,
    )

    df = spark.range(0, 2_000).select(
        F.col("id"), ((F.col("id") % 17) + 1).cast("double").alias("w")
    )
    got = {
        r["id"] for r in weighted_topk_sample(df, 100, "w", F.col("id"), seed=3).collect()
    }
    # Gumbel-top-k over ln(w) with the same u
    u = F.least(F.greatest(_unit_hash(F.col("id"), 3), F.lit(1e-15)), F.lit(1 - 1e-15))
    gk = (
        df.withColumn("__g", F.log("w") - F.log(-F.log(u)))
        .orderBy(F.col("__g").desc())
        .limit(100)
    )
    want = {r["id"] for r in gk.collect()}
    assert got == want


def test_weighted_topk_sample_favors_heavy_rows_and_is_stable(spark):
    from pyspark.sql import functions as F

    from enterprise_warp_spark.operators.sampling import weighted_topk_sample

    # two strata: weight 50 vs weight 1, equal counts — the heavy stratum
    # must dominate the sample, and zero/negative weights never appear
    df = spark.range(0, 2_000).select(
        F.col("id"),
        F.when(F.col("id") < 1_000, 50.0)
        .when(F.col("id") < 1_900, 1.0)
        .otherwise(-1.0)
        .alias("w"),
    )
    s1 = weighted_topk_sample(df, 200, "w", F.col("id"), seed=1).toPandas()
    s2 = weighted_topk_sample(df, 200, "w", F.col("id"), seed=1).toPandas()
    assert sorted(s1["id"]) == sorted(s2["id"])  # deterministic
    assert len(s1) == 200
    assert (s1["w"] > 0).all()
    heavy = int((s1["id"] < 1_000).sum())
    assert heavy > 170  # E[heavy] ~ 196 of 200; far from uniform's ~105


def test_weighted_topk_sample_plan_is_take_ordered(spark):
    from pyspark.sql import functions as F

    from enterprise_warp_spark.operators.sampling import weighted_topk_sample

    df = spark.range(0, 100).select(F.col("id"), F.lit(1.0).alias("w"))
    plan = (
        weighted_topk_sample(df, 5, "w", F.col("id"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_weighted_topk_sample_matches_duckdb_twin(spark):
    """The whole sampler is portable arithmetic — DuckDB picks the same
    rows from the same table."""
    import duckdb
    from pyspark.sql import functions as F

    from enterprise_warp_spark.operators.sampling import weighted_topk_sample

    df = spark.range(0, 500).select(
        F.col("id"), ((F.col("id") % 7) + 1).cast("double").alias("w")
    )
    got = sorted(
        r["id"] for r in weighted_topk_sample(df, 40, "w", F.col("id"), seed=5).collect()
    )
    denom = float(16**15)
    sql = f"""
        SELECT id FROM (
          SELECT id,
                 -ln(LEAST(GREATEST(
                     CAST('0x' || substr(md5(CAST(id AS VARCHAR) || '|5'), 1, 15) AS BIGINT)
                       / {denom}, 1e-15), 1 - 1e-15))
                 / ((id % 7) + 1) AS e
          FROM range(0, 500) t(id)
        ) ORDER BY e LIMIT 40
    """
    want = sorted(r[0] for r in duckdb.sql(sql).fetchall())
    assert got == want


def test_temperature_weights(spark, sf_dir):
    from enterprise_warp_spark.operators.sampling import (
        mixture_rates,
        mixture_resample,
        temperature_weights,
    )

    docs = table(spark, sf_dir, "documents")
    counts = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # alpha=1 reproduces the empirical mix; alpha=0 is uniform
    w1 = temperature_weights(docs, "lang", alpha=1.0)
    total = sum(counts.values())
    for g, n in counts.items():
        assert abs(w1[g] - n / total) < 1e-12
    w0 = temperature_weights(docs, "lang", alpha=0.0)
    assert all(abs(v - 1.0 / len(counts)) < 1e-12 for v in w0.values())
    # 0 < alpha < 1 upweights tail groups relative to their empirical share
    wa = temperature_weights(docs, "lang", alpha=0.3)
    tail = min(counts, key=counts.get)
    head = max(counts, key=counts.get)
    if counts[tail] < counts[head]:
        assert wa[tail] > w1[tail]
        assert wa[head] < w1[head]
    # the weights feed the existing mixture machinery end to end
    kept = mixture_resample(docs, "lang", wa, key="doc_id", seed=5)
    rates = mixture_rates(docs, "lang", wa)
    got = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for g, n in got.items():
        assert n <= counts[g]
        # kept count tracks rate * n within a loose hash-variance bound
        assert abs(n - rates[g] * counts[g]) <= 6 * (counts[g] ** 0.5) + 3
    with pytest.raises(ValueError):
        temperature_weights(docs, "lang", alpha=-0.1)
