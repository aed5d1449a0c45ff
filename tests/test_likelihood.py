"""F10/F15 validation: Woodbury kernel vs dense oracle, Spark kernel vs
local numpy, and the inject-recover property test (SURVEY §5.2.4)."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from enterprise_warp_spark.likelihood.gp import (
    _lnlike_one,
    dense_lnlike_reference,
    gp_loglik_per_pulsar,
    powerlaw_phi,
    total_loglik,
)


def _make_pulsar(rng, n=150, tspan_yr=8.0, log10_A=-13.0, gamma=4.0, efac=1.0):
    t = np.sort(rng.uniform(0, tspan_yr * 365.25 * 86400, n))
    sig = rng.uniform(0.3e-6, 2e-6, n)
    nfreqs = 15
    T = t.max() - t.min()
    f = np.arange(1, nfreqs + 1) / T
    phi = powerlaw_phi(np.repeat(f, 2), np.repeat(1.0 / T, 2 * nfreqs), log10_A, gamma)
    arg = 2 * math.pi * np.outer(t, f)
    Fmat = np.empty((n, 2 * nfreqs))
    Fmat[:, 0::2] = np.sin(arg)
    Fmat[:, 1::2] = np.cos(arg)
    coeffs = rng.normal(0, np.sqrt(phi))
    red = Fmat @ coeffs
    white = rng.normal(0, efac * sig)
    return t, red + white, sig


def test_woodbury_matches_dense():
    rng = np.random.default_rng(1)
    t, r, sig = _make_pulsar(rng)
    ndiag = sig**2
    T = t.max() - t.min()
    nfreqs = 10
    f = np.arange(1, nfreqs + 1) / T
    arg = 2 * math.pi * np.outer(t, f)
    Fmat = np.empty((len(t), 2 * nfreqs))
    Fmat[:, 0::2] = np.sin(arg)
    Fmat[:, 1::2] = np.cos(arg)
    phi = powerlaw_phi(np.repeat(f, 2), np.repeat(1.0 / T, 2 * nfreqs), -13.2, 3.7)
    fast = _lnlike_one(r, ndiag, Fmat, phi)
    slow = dense_lnlike_reference(r, ndiag, Fmat, phi)
    assert fast == pytest.approx(slow, rel=1e-10)


@pytest.fixture(scope="module")
def residuals_df(spark):
    rng = np.random.default_rng(7)
    rows = []
    for psr in ["J0001+0001", "J0002-0002"]:
        t, r, sig = _make_pulsar(rng, log10_A=-13.0, gamma=4.0)
        for ti, ri, si in zip(t, r, sig):
            rows.append((psr, float(ti), float(ri), float(si), 1.0, 0.0))
    return spark.createDataFrame(
        rows, "psr string, toa_s double, residual_s double, toa_err_s double, efac double, equad double"
    ).cache()


def test_spark_kernel_matches_local(spark, residuals_df):
    samples = pd.DataFrame(
        {"sample_id": [0, 1], "log10_A": [-13.0, -14.0], "gamma": [4.0, 3.0]}
    )
    got = {
        (r["psr"], r["sample_id"]): r["lnl"]
        for r in gp_loglik_per_pulsar(residuals_df, samples, nfreqs=12).collect()
    }
    pdf = residuals_df.toPandas()
    for psr, grp in pdf.groupby("psr"):
        g = grp.sort_values("toa_s")
        t, r, sig = g["toa_s"].to_numpy(), g["residual_s"].to_numpy(), g["toa_err_s"].to_numpy()
        T = t.max() - t.min()
        f = np.arange(1, 13) / T
        arg = 2 * math.pi * np.outer(t, f)
        Fmat = np.empty((len(t), 24))
        Fmat[:, 0::2] = np.sin(arg)
        Fmat[:, 1::2] = np.cos(arg)
        for sid, lga, gam in samples.itertuples(index=False):
            phi = powerlaw_phi(np.repeat(f, 2), np.repeat(1.0 / T, 24), lga, gam)
            want = _lnlike_one(r, sig**2, Fmat, phi)
            assert got[(psr, sid)] == pytest.approx(want, rel=1e-12), (psr, sid)
    # A13: total = sum over pulsars
    tot = {r["sample_id"]: r["lnl"] for r in total_loglik(
        gp_loglik_per_pulsar(residuals_df, samples, nfreqs=12)
    ).collect()}
    assert tot[0] == pytest.approx(
        sum(v for (p, s), v in got.items() if s == 0), rel=1e-12
    )


def test_psrs_deals_pulsars_one_per_kernel_task(spark, residuals_df):
    """With psrs given, the kernel exchange has one partition per pulsar
    (up to the width) and the scores equal the unsized grouping's."""
    samples = pd.DataFrame(
        {"sample_id": [0, 1], "log10_A": [-13.0, -14.0], "gamma": [4.0, 3.0]}
    )
    want = gp_loglik_per_pulsar(residuals_df, samples, nfreqs=12).toPandas()
    sized = gp_loglik_per_pulsar(
        residuals_df, samples, nfreqs=12, psrs=["J0002-0002", "J0001+0001"]
    )
    got = sized.withColumn("part", F.spark_partition_id()).toPandas()
    assert got.groupby("psr")["part"].nunique().eq(1).all()
    assert got["part"].nunique() == min(2, spark.sparkContext.defaultParallelism)
    key = ["psr", "sample_id"]
    pd.testing.assert_frame_equal(
        got.drop(columns="part").sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
    )


@pytest.mark.parametrize("k", [2, 3, 4, 8, 32])
def test_partition_keys_land_in_their_partition(spark, k):
    """Spark's hash partitioning sends partition key j to partition j, and
    the driver's murmur3 of each key equals Spark's hash()."""
    from enterprise_warp_spark.likelihood.gp import _murmur3_int, _partition_keys

    keys = _partition_keys(k)
    df = spark.createDataFrame(
        pd.DataFrame({"key": np.array(keys, dtype=np.int32), "j": range(k)})
    )
    got = df.repartition(k, "key").select(
        "j", F.spark_partition_id().alias("part"), F.hash("key").alias("h")
    ).toPandas()
    assert (got["j"] == got["part"]).all()
    assert all(_murmur3_int(keys[j]) == h for j, h in zip(got["j"], got["h"]))


def test_tied_toa_times_score_the_same_in_any_row_order(spark):
    """Sub-banded TOAs share a time at two frequencies: the kernel sorts
    by (time, frequency, line index), so the same rows delivered in
    reverse order score bit-equal lnl."""
    from enterprise_warp_spark.likelihood.gp import RedComponent

    rng = np.random.default_rng(11)
    t, r, sig = _make_pulsar(rng, n=120)
    n = len(t)
    pdf = pd.DataFrame({
        "psr": "J0003+0003",
        "toa_s": np.repeat(t, 2),
        "residual_s": np.repeat(r, 2) + rng.normal(0, 1e-7, 2 * n),
        "toa_err_s": np.repeat(sig, 2) * rng.uniform(0.8, 1.2, 2 * n),
        "efac": 1.0, "equad": 0.0,
        "freq_mhz": np.tile([1400.0, 3100.0], n),
        "toa_idx": np.arange(2 * n, dtype=np.int64),
    })
    samples = pd.DataFrame(
        {"sample_id": [0, 1, 2], "dm_noise_log10_A": [-13.0, -14.0, -12.5],
         "dm_noise_gamma": [4.0, 3.0, 2.0]}
    )
    comps = (RedComponent(name="dm_noise", chrom_idx=2.0, nfreqs=10),)

    def score(frame):
        df = spark.createDataFrame(frame).coalesce(1)
        return gp_loglik_per_pulsar(df, samples, components=comps).toPandas()

    fwd = score(pdf)
    rev = score(pdf.iloc[::-1].reset_index(drop=True))
    assert fwd["lnl"].tolist() == rev["lnl"].tolist()
    assert np.isfinite(fwd["lnl"]).all()


def test_sum_over_pulsars_is_order_free():
    """The driver-side A13 sum: per draw, in sample_id order, the same
    bits whatever order the per-pulsar rows arrive in."""
    from enterprise_warp_spark.likelihood.gp import sum_over_pulsars

    rng = np.random.default_rng(3)
    rows = pd.DataFrame({
        "psr": np.repeat([f"J{i:04d}" for i in range(7)], 50),
        "sample_id": np.tile(np.arange(50), 7),
        "lnl": rng.normal(0, 1e6, 350),
    })
    got = sum_over_pulsars(rows)
    assert got["sample_id"].tolist() == list(range(50))
    for sid in (0, 17, 49):
        assert got["lnl"][sid] == math.fsum(rows.loc[rows.sample_id == sid, "lnl"])
    shuffled = rows.sample(frac=1.0, random_state=9)
    assert sum_over_pulsars(shuffled).equals(got)


def test_inject_recover_grid(spark, residuals_df):
    """Posterior over a (log10_A, gamma) grid must peak near the injection
    (log10_A=-13, gamma=4) — SURVEY §5.2.4 round-trip validation."""
    grid = [
        (i, a, g)
        for i, (a, g) in enumerate(
            (a, g) for a in np.linspace(-15.0, -12.0, 13) for g in (2.0, 3.0, 4.0, 5.0)
        )
    ]
    samples = pd.DataFrame(grid, columns=["sample_id", "log10_A", "gamma"])
    tot = total_loglik(gp_loglik_per_pulsar(residuals_df, samples, nfreqs=15)).toPandas()
    merged = tot.merge(samples, on="sample_id")
    best = merged.loc[merged["lnl"].idxmax()]
    assert abs(best["log10_A"] - (-13.0)) <= 0.5
    assert abs(best["gamma"] - 4.0) <= 1.5


def test_sample_priors(spark):
    from enterprise_warp_spark.likelihood.sampling import Prior, sample_priors

    priors = [
        Prior("log10_A", "uniform", -18.0, -10.0),
        Prior("gamma", "uniform", 0.0, 7.0),
        Prior("efac", "normal", 1.0, 0.1),
        Prior("fixed", "constant", 2.5),
    ]
    df = sample_priors(spark, priors, 500, seed=11).cache()
    stats = df.agg(
        F.min("log10_A"), F.max("log10_A"), F.avg("efac"), F.min("fixed"), F.max("fixed")
    ).first()
    assert stats[0] >= -18.0 and stats[1] <= -10.0
    assert stats[2] == pytest.approx(1.0, abs=0.05)
    assert stats[3] == 2.5 == stats[4]
    # deterministic under the same seed
    again = sample_priors(spark, priors, 500, seed=11)
    assert df.exceptAll(again).count() == 0


def test_posterior_summary(spark):
    from enterprise_warp_spark.likelihood.sampling import posterior_summary

    pdf = spark.createDataFrame(
        [(i, float(x), float(-0.5 * (x - 2.0) ** 2)) for i, x in enumerate(np.linspace(-3, 7, 201))],
        "sample_id long, theta double, lnl double",
    )
    row = posterior_summary(pdf, ["theta"]).first()
    assert row["theta_map"] == pytest.approx(2.0, abs=0.05)
    assert row["theta_mean"] == pytest.approx(2.0, abs=0.1)
    assert row["theta_std"] == pytest.approx(1.0, abs=0.15)


def test_posterior_summary_quotes_parameter_names(spark):
    """Names from a noise-model file may hold any character; a backtick,
    a dot or a space must not break or change the summary's plan."""
    from enterprise_warp_spark.likelihood.sampling import posterior_summary

    names = ["J0437-4715_PKS.10CM efac", "odd`name", "plain"]
    rows = [(i, float(i), float(-i), 0.5, -0.1 * (i - 3) ** 2) for i in range(7)]
    df = spark.createDataFrame(rows, ["sample_id", *names, "lnl"])
    row = posterior_summary(df, names).first().asDict()
    assert sorted(row) == sorted(
        f"{n}_{s}" for n in names for s in ("mean", "std", "map")
    )
    assert row["J0437-4715_PKS.10CM efac_map"] == 3.0
    assert row["odd`name_map"] == -3.0
    assert row["plain_mean"] == 0.5


def test_sample_blocks_equivalence_and_speed(spark, residuals_df):
    """sample_blocks partitions the sample set across tasks without changing
    any lnl value."""
    samples = pd.DataFrame(
        {
            "sample_id": range(12),
            "log10_A": np.linspace(-15, -12, 12),
            "gamma": [3.0, 4.0] * 6,
        }
    )
    plain = {
        (r["psr"], r["sample_id"]): r["lnl"]
        for r in gp_loglik_per_pulsar(residuals_df, samples, nfreqs=10).collect()
    }
    blocked = {
        (r["psr"], r["sample_id"]): r["lnl"]
        for r in gp_loglik_per_pulsar(
            residuals_df, samples, nfreqs=10, sample_blocks=4
        ).collect()
    }
    assert set(plain) == set(blocked)
    for k in plain:
        assert plain[k] == pytest.approx(blocked[k], rel=1e-14)


def test_free_spectrum_and_sampled_idx_match_dense(spark):
    """F3 (per-bin free-spectrum amplitudes) and F6 with SAMPLED chromatic
    index composed in the kernel vs the dense oracle."""
    from enterprise_warp_spark.likelihood.gp import (
        RedComponent,
        dense_lnlike_reference,
    )

    rng = np.random.default_rng(13)
    n, T = 70, 5 * 365.25 * 86400
    t = np.sort(rng.uniform(0, T, n))
    sig = np.full(n, 1e-6)
    r = rng.normal(0, 2e-6, n)
    freq = rng.uniform(700, 3200, n)
    df = spark.createDataFrame(
        [
            ("J1", float(a), float(b), float(c), 1.0, 0.0, float(fm))
            for a, b, c, fm in zip(t, r, sig, freq)
        ],
        "psr string, toa_s double, residual_s double, toa_err_s double, "
        "efac double, equad double, freq_mhz double",
    )
    comps = (
        RedComponent(name="fs", psd="free_spectrum", nfreqs=4),
        RedComponent(name="chrom", chrom_idx=None, psd="powerlaw", nfreqs=3),
    )
    rho = [-7.2, -7.6, -8.0, -8.4]
    idx_val = 3.3
    samples = pd.DataFrame(
        {
            "sample_id": [0],
            **{f"fs_log10_rho_{k}": [rho[k]] for k in range(4)},
            "chrom_log10_A": [-13.4],
            "chrom_gamma": [3.8],
            "chrom_idx": [idx_val],
        }
    )
    got = gp_loglik_per_pulsar(df, samples, components=comps).first()["lnl"]

    order = np.argsort(t)
    ts, rs, ss, fs_mhz = t[order], r[order], sig[order], freq[order]
    T2 = ts.max() - ts.min()
    f1 = np.arange(1, 5) / T2
    arg = 2 * math.pi * np.outer(ts, f1)
    F1 = np.empty((n, 8)); F1[:, 0::2] = np.sin(arg); F1[:, 1::2] = np.cos(arg)
    phi1 = np.repeat(10.0 ** (2 * np.array(rho)), 2)
    f2_ = np.arange(1, 4) / T2
    arg2 = 2 * math.pi * np.outer(ts, f2_)
    F2 = np.empty((n, 6)); F2[:, 0::2] = np.sin(arg2); F2[:, 1::2] = np.cos(arg2)
    F2 *= ((1400.0 / fs_mhz) ** idx_val)[:, None]
    phi2 = powerlaw_phi(np.repeat(f2_, 2), np.full(6, 1 / T2), -13.4, 3.8)
    want = dense_lnlike_reference(
        rs, ss**2, np.hstack([F1, F2]), np.concatenate([phi1, phi2])
    )
    assert got == pytest.approx(want, rel=1e-10)


def test_gp_loglik_reduced_matches_full_kernel(spark):
    """The two-phase-reduction fast path must equal the full per-pulsar
    kernel exactly (same basis: endpoints pinned so per-pulsar span ==
    common tspan)."""
    import math

    import numpy as np
    import pandas as pd

    from enterprise_warp_spark.analytics.optimal_statistic import (
        per_pulsar_reduction,
    )
    from enterprise_warp_spark.likelihood.gp import (
        gp_loglik_per_pulsar,
        gp_loglik_reduced,
    )

    rng = np.random.default_rng(23)
    tspan = 8.0 * 365.25 * 86400.0
    rows = []
    for p in range(3):
        n = 90 + 11 * p
        t = np.sort(rng.uniform(0, tspan, n))
        t[0], t[-1] = 0.0, tspan  # pin span == common tspan
        r = rng.normal(0, 1e-6, n)
        rows += [
            (f"J{p:02d}", float(ti), float(ri), 1e-6, 1.0, 0.0)
            for ti, ri in zip(t, r)
        ]
    res = spark.createDataFrame(
        rows,
        "psr string, toa_s double, residual_s double, toa_err_s double, "
        "efac double, equad double",
    )
    samples = pd.DataFrame(
        {
            "sample_id": range(5),
            "log10_A": [-14.5, -14.0, -13.5, -13.0, -12.5],
            "gamma": [2.0, 3.0, 4.0, 5.0, 6.0],
        }
    )
    nf = 6
    red = per_pulsar_reduction(res, nfreqs=nf, tspan_s=tspan)
    fast = {
        (r["psr"], r["sample_id"]): r["lnl"]
        for r in gp_loglik_reduced(red, samples, tspan).collect()
    }
    full = {
        (r["psr"], r["sample_id"]): r["lnl"]
        for r in gp_loglik_per_pulsar(res, samples, nfreqs=nf).collect()
    }
    assert set(fast) == set(full)
    for k in full:
        assert math.isfinite(fast[k])
        assert abs(fast[k] - full[k]) < 1e-6 * max(1.0, abs(full[k])), (
            k,
            fast[k],
            full[k],
        )


def test_per_backend_ecorr_matches_dense(spark):
    """by_backend ECORR ('log10_ecorr_<backend>' sample columns): each
    (epoch, backend) pair forms its own correlated block with that backend's
    variance; a backend with no sampled column contributes NO block. Checked
    against the dense block-covariance oracle."""
    rng = np.random.default_rng(151)
    tspan = 4.0e8
    nf, n = 3, 72
    t = np.sort(rng.uniform(0, tspan, n))
    epochs = np.digitize(t, np.linspace(0, tspan, 9))
    backends = np.array(
        [["PDFB_20CM", "CASPSR_40CM", "NOCOL_10CM"][i % 3] for i in range(n)]
    )
    sig = np.full(n, 5e-7)
    r = rng.normal(0, 1e-6, n)
    rows = [
        ("J1", float(t[i]), float(r[i]), float(sig[i]), 1.0, 0.0,
         int(epochs[i]), str(backends[i]))
        for i in range(n)
    ]
    res = spark.createDataFrame(
        rows,
        "psr string, toa_s double, residual_s double, toa_err_s double, "
        "efac double, equad double, epoch_id int, backend string",
    )
    ec_pdfb, ec_caspsr = 4e-7, 7e-7
    samples = pd.DataFrame(
        {
            "sample_id": [0],
            "log10_A": [-13.2],
            "gamma": [4.0],
            "log10_ecorr_PDFB_20CM": [np.log10(ec_pdfb)],
            "log10_ecorr_CASPSR_40CM": [np.log10(ec_caspsr)],
        }
    )
    got = gp_loglik_per_pulsar(res, samples, nfreqs=nf).first()["lnl"]

    order = np.argsort(t)
    ts, rs, es, bs = t[order], r[order], epochs[order], backends[order]
    T = ts.max() - ts.min()
    Nb = np.diag(np.full(n, sig[0] ** 2))
    amp = {"PDFB_20CM": ec_pdfb, "CASPSR_40CM": ec_caspsr}
    for e in np.unique(es):
        for b, ec in amp.items():
            mask = ((es == e) & (bs == b)).astype(float)
            if mask.sum() > 0:
                Nb += ec * ec * np.outer(mask, mask)
    # NOCOL_10CM rows: no block at all
    f = np.arange(1, nf + 1) / T
    arg = 2 * math.pi * np.outer(ts, f)
    Fm = np.empty((n, 2 * nf))
    Fm[:, 0::2] = np.sin(arg)
    Fm[:, 1::2] = np.cos(arg)
    phi = powerlaw_phi(np.repeat(f, 2), np.full(2 * nf, 1.0 / T), -13.2, 4.0)
    C = Nb + Fm @ np.diag(phi) @ Fm.T
    sign, logdet = np.linalg.slogdet(C)
    want = -0.5 * (
        float(rs @ np.linalg.solve(C, rs)) + logdet + n * math.log(2 * math.pi)
    )
    assert got == pytest.approx(want, rel=1e-9)


def test_mixed_global_and_backend_ecorr_partition_semantics(spark):
    """Global + per-backend ECORR columns together PARTITION the TOAs
    (selection semantics, never stacking): listed backends get their own
    (epoch, backend) blocks; every other TOA of an epoch shares ONE
    whole-epoch block at the global variance. Dense parity."""
    rng = np.random.default_rng(163)
    tspan = 4.0e8
    nf, n = 3, 72
    t = np.sort(rng.uniform(0, tspan, n))
    epochs = np.digitize(t, np.linspace(0, tspan, 9))
    backends = np.array(
        [["PDFB_20CM", "OTHER_A", "OTHER_B"][i % 3] for i in range(n)]
    )
    sig = np.full(n, 5e-7)
    r = rng.normal(0, 1e-6, n)
    rows = [
        ("J1", float(t[i]), float(r[i]), float(sig[i]), 1.0, 0.0,
         int(epochs[i]), str(backends[i]))
        for i in range(n)
    ]
    res = spark.createDataFrame(
        rows,
        "psr string, toa_s double, residual_s double, toa_err_s double, "
        "efac double, equad double, epoch_id int, backend string",
    )
    ec_listed, ec_global = 4e-7, 8e-7
    samples = pd.DataFrame(
        {
            "sample_id": [0],
            "log10_A": [-13.2],
            "gamma": [4.0],
            "log10_ecorr": [np.log10(ec_global)],
            "log10_ecorr_PDFB_20CM": [np.log10(ec_listed)],
        }
    )
    got = gp_loglik_per_pulsar(res, samples, nfreqs=nf).first()["lnl"]

    order = np.argsort(t)
    ts, rs, es, bs = t[order], r[order], epochs[order], backends[order]
    T = ts.max() - ts.min()
    Nb = np.diag(np.full(n, sig[0] ** 2))
    for e in np.unique(es):
        listed_mask = ((es == e) & (bs == "PDFB_20CM")).astype(float)
        if listed_mask.sum() > 0:
            Nb += ec_listed**2 * np.outer(listed_mask, listed_mask)
        # OTHER_A and OTHER_B share ONE whole-epoch block at the global amp
        rest = ((es == e) & (bs != "PDFB_20CM")).astype(float)
        if rest.sum() > 0:
            Nb += ec_global**2 * np.outer(rest, rest)
    f = np.arange(1, nf + 1) / T
    arg = 2 * math.pi * np.outer(ts, f)
    Fm = np.empty((n, 2 * nf))
    Fm[:, 0::2] = np.sin(arg)
    Fm[:, 1::2] = np.cos(arg)
    phi = powerlaw_phi(np.repeat(f, 2), np.full(2 * nf, 1.0 / T), -13.2, 4.0)
    C = Nb + Fm @ np.diag(phi) @ Fm.T
    sign, logdet = np.linalg.slogdet(C)
    want = -0.5 * (
        float(rs @ np.linalg.solve(C, rs)) + logdet + n * math.log(2 * math.pi)
    )
    assert got == pytest.approx(want, rel=1e-9)
    # misconfiguration fails at plan time with a clear message
    bad = samples.drop(columns=["log10_ecorr"])
    with pytest.raises(ValueError, match="backend"):
        gp_loglik_per_pulsar(res.drop("backend"), bad, nfreqs=nf)


def test_fast_path_matches_slow_path_with_det_and_ecorr(spark):
    """The r5 hoisted-Gram fast path (sample-invariant F^T N^-1 F blocks,
    likelihood/gp.py _lnlike_cached) must agree exactly with the per-sample
    slow path. Forcing the slow path by adding a sampled 'efac' column whose
    value equals the data efac keeps the math identical while flipping the
    code path — covered here WITH a DetComponent (low-rank shifted-residual
    update) and ECORR (U-augmented basis) in the model."""
    from enterprise_warp_spark.likelihood.gp import DetComponent, RedComponent

    rng = np.random.default_rng(42)
    t, r, sig = _make_pulsar(rng, n=120)
    n = len(t)
    b0 = rng.normal(0, 1e-6, n)
    b1 = np.sin(t / t.max() * 3.0) * 1e-6
    epochs = (np.arange(n) // 8).astype(int)
    rows = [
        (
            "J1",
            float(t[i]),
            float(r[i]),
            float(sig[i]),
            1.3,
            2e-7,
            float(b0[i]),
            float(b1[i]),
            int(epochs[i]),
        )
        for i in range(n)
    ]
    res = spark.createDataFrame(
        rows,
        "psr string, toa_s double, residual_s double, toa_err_s double, "
        "efac double, equad double, b0 double, b1 double, epoch_id int",
    )
    comps = (
        RedComponent(nfreqs=6),
        DetComponent(("c_0", "c_1"), ("b0", "b1")),
    )
    base = pd.DataFrame(
        {
            "sample_id": [0, 1, 2],
            "log10_A": [-13.5, -13.0, -12.8],
            "gamma": [3.0, 4.0, 4.4],
            "log10_ecorr": [-6.5, -6.0, -7.0],
            "c_0": [0.5, -1.0, 2.0],
            "c_1": [0.0, 1.5, -0.7],
        }
    )
    fast = {
        row["sample_id"]: row["lnl"]
        for row in gp_loglik_per_pulsar(res, base, components=comps).collect()
    }
    slow_samples = base.assign(efac=1.3)  # sampled == data column: same N
    slow = {
        row["sample_id"]: row["lnl"]
        for row in gp_loglik_per_pulsar(res, slow_samples, components=comps).collect()
    }
    assert set(fast) == set(slow) == {0, 1, 2}
    for sid in fast:
        assert fast[sid] == pytest.approx(slow[sid], rel=1e-11), sid


def test_sample_batch_matches_scalar_loop(spark):
    """The r5 vectorized sample axis (stacked phi + batched cholesky/solve)
    must agree with the per-sample scalar loop across a model exercising
    DetComponent, ECORR and TM-fast marginalization."""
    from enterprise_warp_spark.functions.timingmodel import design_matrix  # noqa: F401
    from enterprise_warp_spark.likelihood.gp import (
        DetComponent,
        RedComponent,
        TMComponent,
    )

    rng = np.random.default_rng(77)
    t, r, sig = _make_pulsar(rng, n=140)
    n = len(t)
    b0 = rng.normal(0, 1e-6, n)
    epochs = (np.arange(n) // 10).astype(int)
    rows = [
        ("J1", float(t[i]), float(r[i]), float(sig[i]), 1.0, 0.0,
         float(b0[i]), int(epochs[i]))
        for i in range(n)
    ]
    res = spark.createDataFrame(
        rows,
        "psr string, toa_s double, residual_s double, toa_err_s double, "
        "efac double, equad double, b0 double, epoch_id int",
    )
    comps = (
        TMComponent((("offset",), ("spin", 1, 0.0)), mode="fast"),
        RedComponent(nfreqs=7),
        DetComponent(("c_0",), ("b0",)),
    )
    rng2 = np.random.default_rng(5)
    S = 40
    samples = pd.DataFrame(
        {
            "sample_id": range(S),
            "log10_A": rng2.uniform(-14.5, -12.5, S),
            "gamma": rng2.uniform(2.0, 6.0, S),
            "log10_ecorr": rng2.uniform(-7.5, -6.0, S),
            "c_0": rng2.normal(0, 1.0, S),
        }
    )
    batched = {
        row["sample_id"]: row["lnl"]
        for row in gp_loglik_per_pulsar(res, samples, components=comps).collect()
    }
    scalar = {
        row["sample_id"]: row["lnl"]
        for row in gp_loglik_per_pulsar(
            res, samples, components=comps, sample_batch=False
        ).collect()
    }
    assert set(batched) == set(scalar) and len(batched) == S
    for sid in batched:
        assert batched[sid] == pytest.approx(scalar[sid], rel=1e-12), sid
