"""Chain-analytics operators vs numpy re-implementations of the reference
logic (results.py:154-234, 499-616) on a synthetic chain file written in the
reference's on-disk format (whitespace matrix + pars.txt sidecar)."""

import numpy as np
import pytest

PARS = [
    "J1832-0836_PDFB_20CM_efac",
    "J1832-0836_PDFB_20CM_log10_equad",
    "red_noise_log10_A",
    "nmodel",
]
NSTEP = 2000


@pytest.fixture(scope="module")
def chain_dir(tmp_path_factory):
    rng = np.random.default_rng(42)
    mat = np.column_stack(
        [
            rng.normal(1.0, 0.1, NSTEP),  # efac
            rng.normal(-7.0, 0.5, NSTEP),  # log10_equad
            rng.normal(-14.5, 0.3, NSTEP),  # red_noise_log10_A
            rng.uniform(-0.5, 1.5, NSTEP),  # nmodel drifting between 0 and 1
            rng.normal(size=NSTEP),  # lnpost
            rng.normal(size=NSTEP),  # lnlike
            rng.uniform(size=NSTEP),  # accept
            np.ones(NSTEP),  # pt
        ]
    )
    d = tmp_path_factory.mktemp("run_J1832-0836")
    np.savetxt(d / "chain_1.txt", mat)
    (d / "pars.txt").write_text("\n".join(PARS) + "\n")
    return str(d), mat


@pytest.fixture(scope="module")
def loaded(spark, chain_dir):
    from enterprise_warp_spark.sources.chains import read_chain_runs, resolve_chain_dir

    d, mat = chain_dir
    # burn_frac=0 keeps every step; the tests below burn in themselves
    long = read_chain_runs(spark, [resolve_chain_dir(d)], burn_frac=0.0)
    return long.cache(), mat


def test_chain_shape_and_aux_split(loaded):
    long, mat = loaded
    # the 4 trailing sampler columns are split off: one row per parameter
    assert long.count() == NSTEP * len(PARS)
    by_par = {r["par"]: r["value"] for r in long.filter("step = 7").collect()}
    assert set(by_par) == set(PARS)
    # step order must reproduce file order exactly
    np.testing.assert_allclose([by_par[p] for p in PARS], mat[7, :4])


def test_burn_in(loaded):
    from enterprise_warp_spark.analytics.chains import burn_in

    long, mat = loaded
    kept = burn_in(long, 0.25)
    assert kept.filter("par = 'nmodel'").count() == NSTEP - int(0.25 * NSTEP)
    assert kept.agg({"step": "min"}).first()[0] == int(0.25 * NSTEP)


def test_model_counts_and_logbf(loaded):
    from enterprise_warp_spark.analytics.chains import (
        log_bayes_factors_from_chain,
        model_posterior_counts,
    )

    long, mat = loaded
    counts = {r["nmodel"]: r["n_samples"] for r in model_posterior_counts(long).collect()}
    vals, np_counts = np.unique(np.round(mat[:, 3]), return_counts=True)
    assert counts == {int(v): int(c) for v, c in zip(vals, np_counts)}
    bf = log_bayes_factors_from_chain(long).first()
    assert bf["log_bf"] == pytest.approx(np.log(np_counts[1] / np_counts[0]))


def test_credible_levels(loaded):
    from enterprise_warp_spark.analytics.chains import credible_levels_by_par

    long, mat = loaded
    got = {r["par"]: r for r in credible_levels_by_par(long).collect()}
    for j, par in enumerate(PARS):
        for p, col in [(16, "p16"), (50, "p50"), (84, "p84")]:
            assert got[par][col] == pytest.approx(
                np.percentile(mat[:, j], p), rel=1e-9
            ), (par, p)


def test_mode_positions(loaded):
    from enterprise_warp_spark.analytics.chains import mode_positions_by_par

    long, mat = loaded
    got = {r["par"]: r["mode_position"] for r in mode_positions_by_par(long).collect()}
    for j, par in enumerate(PARS):
        # reference dist_mode_position (results.py:154-170)
        hist, edges = np.histogram(mat[:, j], bins=50)
        assert got[par] == pytest.approx(edges[np.argmax(hist)], rel=1e-9), par


def test_noise_summary_routing(loaded):
    from enterprise_warp_spark.analytics.chains import noise_summary

    long, mat = loaded
    got = {r["par"]: r["value"] for r in noise_summary(long).collect()}
    hist, edges = np.histogram(mat[:, 0], bins=50)
    assert got[PARS[0]] == pytest.approx(edges[np.argmax(hist)], rel=1e-9)  # efac -> mode
    assert got[PARS[2]] == pytest.approx(np.median(mat[:, 2]), rel=1e-9)  # other -> median


def test_noise_files_json(loaded):
    import json

    from enterprise_warp_spark.analytics.chains import noise_files_json, noise_summary

    long, _ = loaded
    doc = noise_files_json(noise_summary(long)).first()
    payload = json.loads(doc["noise_json"])
    assert set(payload) == set(PARS)


def test_covariance_assembly(spark):
    from enterprise_warp_spark.analytics.covariance import assemble_block_diag

    b1 = spark.createDataFrame(
        [("r1", "a", "a", 1.0), ("r1", "a", "b", 0.1), ("r1", "b", "b", 2.0)],
        "run_id string, row_par string, col_par string, value double",
    )
    # second block repeats parameter 'b' -> its rows/cols must be pruned
    b2 = spark.createDataFrame(
        [("r2", "b", "b", 9.0), ("r2", "c", "c", 3.0), ("r2", "c", "b", 0.5)],
        "run_id string, row_par string, col_par string, value double",
    )
    out = assemble_block_diag([b1, b2]).collect()
    pairs = {(r["row_par"], r["col_par"]): r["value"] for r in out}
    assert pairs[("a", "a")] == 1.0 and pairs[("c", "c")] == 3.0
    assert ("b", "b") in pairs and pairs[("b", "b")] == 2.0  # first block wins
    assert ("c", "b") not in pairs  # pruned: 'b' already seen


def test_mode_positions_degenerate_constant_chain(spark):
    """A5 — a parameter whose chain values are ALL identical (constant
    prior) must yield its value as the mode, not an ANSI divide-by-zero."""
    from enterprise_warp_spark.analytics.chains import mode_positions_by_par

    rows = [("r0", "efac", 1.25)] * 40 + [("r0", "gamma", 4.0), ("r0", "gamma", 5.0)]
    chain = spark.createDataFrame(rows, "run_id string, par string, value double")
    got = {r["par"]: r["mode_position"] for r in mode_positions_by_par(chain).collect()}
    assert got["efac"] == 1.25
    assert 4.0 <= got["gamma"] <= 5.0
