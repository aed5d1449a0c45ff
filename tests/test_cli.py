"""CLI front-ends (§3 entry points as console mains).

The reference's documented smoke commands (docs/index.rst:24-34) are

    $ python run_example_paramfile.py --prfile example_params/default_model_dynesty.dat --num 0
    $ python -m enterprise_warp.results --result example_params/default_model_dynesty.dat --info 1 --corner 1

These tests run both mains (modulo package name) against the SHIPPED
reference example tree (J1832-0836 .par/.tim + noise models/files), staged
into a writable tmp dir because the paramfile's `out:` is relative and
/root/reference is read-only. Asserts the reference run-dir layout
(chain_1.txt/pars.txt — K1), the K2 noise-file key set, and the flag-gated
results stages."""

import json
import os
import shutil

import numpy as np
import pytest

EX = "/root/reference/examples"


@pytest.fixture(scope="module")
def example_tree(tmp_path_factory):
    """Writable copy of the reference examples tree (data + configs)."""
    base = tmp_path_factory.mktemp("example_tree")
    for sub in ("data", "example_params", "example_noisemodels", "example_noisefiles"):
        shutil.copytree(os.path.join(EX, sub), base / sub)
    return str(base)


@pytest.fixture(scope="module")
def completed_run(spark, example_tree):
    """One full run_paramfile main on the docs smoke command."""
    from enterprise_warp_spark.run_paramfile import main

    prfile = os.path.join(example_tree, "example_params", "default_model_dynesty.dat")
    out = main(["--prfile", prfile, "--num", "0"], spark=spark)
    return prfile, out


def test_run_paramfile_smoke_layout(completed_run, example_tree):
    """K1 layout: out/<model>_<label>/<num>_<psr>/{chain_1.txt,pars.txt},
    reference par-name convention, chain columns = pars + 4 PTMCMC aux."""
    prfile, out = completed_run
    d = out["output_dir"]
    # enterprise_warp.py:403-415 layout: out/examp_1_v1/0_J1832-0836/
    assert d == os.path.join(example_tree, "out", "examp_1_v1", "0_J1832-0836")
    assert os.path.isfile(os.path.join(d, "chain_1.txt"))
    assert os.path.isfile(os.path.join(d, "pars.txt"))
    pars = open(os.path.join(d, "pars.txt")).read().split()
    assert pars == out["pars"]
    # the 12-dim examp_1 plan for J1832-0836 in reference naming
    assert "J1832-0836_CASPSR_40CM_efac" in pars
    assert "J1832-0836_red_noise_log10_A" in pars
    assert "J1832-0836_dm_gp_gamma" in pars
    assert len(pars) == 12
    chain = np.loadtxt(os.path.join(d, "chain_1.txt"))
    assert chain.shape[1] == len(pars) + 4  # results.py:499 strips 4 aux
    assert np.isfinite(chain).all()
    # sampled values stay inside the compiled prior box (efac ~ U(0, 10))
    efac_col = pars.index("J1832-0836_PDFB_20CM_efac")
    assert 0.0 <= chain[:, efac_col].min() <= chain[:, efac_col].max() <= 10.0


def test_run_paramfile_drop_and_array(spark, example_tree):
    """--drop 1: leave pulsar --num out of a full-array run (EWParser -d).
    The 2-pulsar example tree minus index 0 runs fake_psr_0 alone."""
    from enterprise_warp_spark.run_paramfile import main

    prfile = os.path.join(example_tree, "example_params", "default_model_dynesty.dat")
    out = main(["--prfile", prfile, "--num", "0", "--drop", "1"], spark=spark)
    # reference layout: .../<num>/<num>_<DROPPEDpsr>/ (enterprise_warp.py:415)
    assert out["output_dir"].endswith(os.path.join("0", "0_J1832-0836"))
    assert os.path.isfile(os.path.join(out["output_dir"], "chain_1.txt"))
    # the dropped pulsar's per-backend white noise is NOT in the plan
    assert not any("CASPSR" in p for p in out["pars"])


def test_results_main_info_corner(spark, completed_run, capsys):
    """The second docs smoke command verbatim: --info 1 --corner 1 against
    the PARAMFILE (interpret_opts_result resolves the output dir)."""
    from enterprise_warp_spark.results import main

    prfile, out = completed_run
    res = main(["--result", prfile, "--info", "1", "--corner", "1"], spark=spark)
    assert res["run_ids"] == ["0_J1832-0836"]
    captured = capsys.readouterr().out
    assert "Processing 0_J1832-0836" in captured
    assert "J1832-0836_red_noise_gamma" in captured
    # corner DATA artifact (K7 feeding aggregation)
    corner = os.path.join(
        res["outdir_all"], "0_J1832-0836", "0_J1832-0836_corner.json"
    )
    doc = json.load(open(corner))
    assert "J1832-0836_red_noise_log10_A" in doc
    assert all(np.isfinite(v) for v in doc.values())
    # K7 corner PNG (reference filename shape results.py:634-636),
    # decodable by the repo's own decoder
    from enterprise_warp_spark.pipeline.codecs import decode_png

    assert res["plots"], "corner flag must render a PNG"
    png = [p for p in res["plots"] if p.endswith("_corner__.png")]
    assert len(png) == 1 and os.path.isfile(png[0])
    img = decode_png(open(png[0], "rb").read())
    assert img.ndim == 3 and img.shape[0] == img.shape[1] > 500


def test_results_main_hist_and_trace_pngs(spark, completed_run):
    """-H/-a render the tiled histogram and trace grids (K7,
    results.py:660-700) with the reference tiling for 12 parameters."""
    from enterprise_warp_spark.pipeline.codecs import decode_png
    from enterprise_warp_spark.plotting import SUB_H, SUB_W, tile_grid
    from enterprise_warp_spark.results import main

    prfile, out = completed_run
    res = main(["--result", prfile, "--hists", "1", "--chains", "1"],
               spark=spark)
    hist = [p for p in res["plots"] if p.endswith("_hist_pars_.png")]
    trace = [p for p in res["plots"] if p.endswith("_samples_trace_.png")]
    assert len(hist) == 1 and len(trace) == 1
    xt, yt = tile_grid(12)
    assert (xt, yt) == (3, 4)
    for p in hist + trace:
        img = decode_png(open(p, "rb").read())
        assert img.shape == (xt * SUB_H, yt * SUB_W, 3)


def test_results_main_noisefiles_credlevels_logbf(spark, completed_run):
    """-f/-l/-b flag-gated stages: K2 noise files carry EXACTLY the
    reference key set for this model, credible levels are ordered, logbf on
    a single-model run yields no pairs (and no crash)."""
    from enterprise_warp_spark.results import main

    prfile, out = completed_run
    res = main(
        ["--result", prfile, "--noisefiles", "1", "--credlevels", "1",
         "--logbf", "1"],
        spark=spark,
    )
    [noise_path] = res["noisefiles"]
    assert os.path.basename(noise_path) == "0_J1832-0836_noise.json"
    doc = json.load(open(noise_path))
    golden = json.load(open(f"{EX}/example_noisefiles/J1832-0836_noise.json"))
    assert set(doc) == set(golden)  # the reference's exact key set
    [cred_path] = res["credlevels"]
    cdoc = json.load(open(cred_path))
    assert set(cdoc) == set(golden)
    assert all(v["p16"] <= v["p50"] <= v["p84"] for v in cdoc.values())


def test_results_main_directory_and_name_filter(spark, completed_run):
    """--result can be the output DIRECTORY (results.py:400-403) and
    --name filters runs by substring."""
    from enterprise_warp_spark.results import main

    prfile, out = completed_run
    outdir_all = os.path.dirname(out["output_dir"])
    res = main(["--result", outdir_all, "--name", "J1832"], spark=spark)
    assert res["run_ids"] == ["0_J1832-0836"]
    res2 = main(["--result", outdir_all, "--name", "J0437"], spark=spark)
    assert res2["run_ids"] == []


def test_cli_modules_run_as_main():
    """`python -m enterprise_warp_spark.results -h` / run_paramfile -h —
    the documented invocation shape — exit 0 and print their options."""
    import subprocess
    import sys

    for mod in ("enterprise_warp_spark.results", "enterprise_warp_spark.run_paramfile"):
        p = subprocess.run(
            [sys.executable, "-m", mod, "-h"],
            capture_output=True, text=True, cwd="/root/repo", timeout=120,
        )
        assert p.returncode == 0, p.stderr
        assert "--result" in p.stdout or "--prfile" in p.stdout


def test_parse_commandline_defaults():
    """Option surface parity with results.py:38-135 / enterprise_warp.py:30-56."""
    from enterprise_warp_spark.results import parse_commandline as rc
    from enterprise_warp_spark.run_paramfile import parse_commandline as pc

    o = rc(["-r", "x", "-b", "1"])
    assert o.result == "x" and o.logbf == 1 and o.name == "all"
    assert o.optimal_statistic_orfs == "hd,dipole,monopole"
    assert o.optimal_statistic_nsamples == 1000
    o2 = pc(["-p", "f.dat", "-n", "3", "-d", "1"])
    assert o2.prfile == "f.dat" and o2.num == 3 and o2.drop == 1


def test_results_main_covm_and_os(spark, completed_run):
    """-m: cov.npy per run dir -> covm_all.csv/pkl (K4). -o: the §3.3 OS
    pipeline rebuilt from the paramfile, per requested ORF, persisted as
    parquet (K6) — the reference's OptimalStatisticWarp flow."""
    from enterprise_warp_spark.results import main

    prfile, out = completed_run
    run_dir = out["output_dir"]
    # synthesize a PTMCMC covariance for the run's 12 sampled params
    rng = np.random.default_rng(5)
    a = rng.normal(size=(12, 12))
    np.save(os.path.join(run_dir, "cov.npy"), a @ a.T)
    res = main(
        ["--result", prfile, "--covm", "1", "--optimal_statistic", "1",
         "--optimal_statistic_orfs", "hd",
         "--optimal_statistic_nsamples", "40"],
        spark=spark,
    )
    outdir_all = res["outdir_all"]
    assert os.path.isfile(os.path.join(outdir_all, "covm_all.csv"))
    assert os.path.isfile(os.path.join(outdir_all, "covm_all.pkl"))
    import pandas as pd

    dense = pd.read_csv(os.path.join(outdir_all, "covm_all.csv"))
    assert len(dense) == 12  # 12x12 block for the single run
    os_row = res["os"]["hd"]["os"].first()
    assert np.isfinite(os_row["a2_hat"]) and os_row["sig_os"] > 0
    saved = spark.read.parquet(
        os.path.join(outdir_all, "os_results", "hd", "os")
    )
    assert saved.count() == 1
    # A12 ran over the 40 chain draws and the K7 OS plots rendered
    # (plot_os_orf + plot_noisemarg_os, results.py:850-1010)
    from enterprise_warp_spark.pipeline.codecs import decode_png

    marg = res["os"]["hd"]["marginalised"]
    assert marg.count() == 40
    assert len(res["os_plots"]) == 3
    names = {os.path.basename(p) for p in res["os_plots"]}
    assert names == {"all_os_orf_.png", "all_os_SNR_.png", "all_os_A2_.png"}
    for p in res["os_plots"]:
        img = decode_png(open(p, "rb").read())
        assert img.shape == (400, 650, 3)


def test_results_separate_then_load_separated(spark, example_tree):
    """-u then -s round-trip (results.py:556-618 / 479-495): -u 0.3 moves
    the first 30% of chain_1.txt into a timestamped segment file; -s 1
    then loads segments + falls back to chain_1.txt in dirs without any —
    and the segment steps are exactly the separated head."""
    import numpy as np

    from enterprise_warp_spark.results import main
    from enterprise_warp_spark.run_paramfile import main as run_main

    # fresh run so -u surgery doesn't disturb the shared completed_run
    prfile = os.path.join(example_tree, "example_params", "default_model_dynesty.dat")
    out = run_main(["--prfile", prfile, "--num", "0", "--wipe_old_output", "1"],
                   spark=spark)
    run_dir = out["output_dir"]
    n_before = np.loadtxt(os.path.join(run_dir, "chain_1.txt")).shape[0]
    main(["--result", prfile, "--separate_earliest", "0.3"], spark=spark)
    import glob as _glob

    segs = [p for p in _glob.glob(os.path.join(run_dir, "chain_*.txt"))
            if "chain_1.txt" not in p]
    assert len(segs) == 1
    n_seg = np.loadtxt(segs[0]).shape[0]
    n_rest = np.loadtxt(os.path.join(run_dir, "chain_1.txt")).shape[0]
    assert n_seg == int(0.3 * n_before) and n_seg + n_rest == n_before
    # -s loads ONLY the separated segment for this dir
    res = main(["--result", prfile, "--load_separated", "1", "--info", "1"],
               spark=spark)
    from enterprise_warp_spark.analytics.results_pipeline import run_results_pipeline

    sep = run_results_pipeline(spark, os.path.dirname(run_dir),
                               burn_frac=0.0, load_separated=True)
    steps = sep["chains_long"].selectExpr("max(step) as m").first()["m"]
    assert steps == n_seg - 1
    assert res["run_ids"] == ["0_J1832-0836"]


def test_expand_orfs_and_single_row_separate(tmp_path):
    """Review fixes: -g all expands to every ORF (a silent no-op would
    crash the OS plots on an empty dict), and separate_earliest on a
    single-sample chain must not slice COLUMNS (np.loadtxt 1-D)."""
    from enterprise_warp_spark.results import expand_orfs, separate_earliest

    assert expand_orfs("all") == ["hd", "dipole", "monopole"]
    assert expand_orfs("hd, monopole") == ["hd", "monopole"]
    d = tmp_path / "run"
    d.mkdir()
    row = np.arange(16.0)
    np.savetxt(d / "chain_1.txt", row[None, :])
    separate_earliest(str(d), 0.3, [])
    rest = np.atleast_2d(np.loadtxt(d / "chain_1.txt"))
    assert rest.shape == (1, 16)  # full row intact, no column split
    assert np.allclose(rest[0], row)


def test_separate_earliest_returns_before_other_stages(spark, example_tree,
                                                       capsys):
    """-u mirrors the reference's separate-then-exit (results.py:600-602):
    no other stage runs, so no lazy plan can re-read truncated files."""
    from enterprise_warp_spark.results import main
    from enterprise_warp_spark.run_paramfile import main as run_main

    prfile = os.path.join(example_tree, "example_params",
                          "default_model_dynesty.dat")
    run_main(["--prfile", prfile, "--num", "0", "--wipe_old_output", "1"],
             spark=spark)
    res = main(["--result", prfile, "--separate_earliest", "0.2",
                "--info", "1"], spark=spark)
    assert "separated" in res and len(res["separated"]) == 1
    assert "run_ids" not in res  # -i did NOT run
    assert "is separated, exiting." in capsys.readouterr().out


def test_results_load_saved_os_results(spark, completed_run):
    """-o 1 -L 1: reuse the persisted K6 parquet (no TOA rebuild — the
    --result may be the plain output DIRECTORY) and re-render the OS
    plots, including the A12 noisemarg panels from the saved draws."""
    from enterprise_warp_spark.results import main

    prfile, out = completed_run
    outdir_all = os.path.dirname(out["output_dir"])
    if not os.path.isdir(os.path.join(outdir_all, "os_results", "hd", "os")):
        pytest.skip("needs test_results_main_covm_and_os to have run first")
    res = main(
        ["--result", outdir_all, "--optimal_statistic", "1",
         "--load_optimal_statistic_results", "1",
         "--optimal_statistic_orfs", "hd"],
        spark=spark,
    )
    row = res["os"]["hd"]["os"].first()
    assert row["sig_os"] > 0
    assert res["os"]["hd"]["marginalised"].count() == 40  # saved draws
    assert len(res["os_plots"]) == 3
    # -L on a directory with no saved results fails loudly
    with pytest.raises(SystemExit, match="no saved OS results"):
        main(["--result", outdir_all, "--optimal_statistic", "1",
              "--load_optimal_statistic_results", "1",
              "--optimal_statistic_orfs", "dipole"], spark=spark)


def test_separate_earliest_backup_and_par_masked_family(tmp_path):
    """ADVICE r10 (results.py separate_earliest): chain_1.txt is backed up
    to .bckp BEFORE the truncating overwrite (reference results.py:598),
    and --par additionally writes the par-masked segment family
    chain_<stamp>_<label>.txt + pars_<label>.txt (results.py:589-596)."""
    import glob

    from enterprise_warp_spark.results import separate_earliest

    d = tmp_path / "0_J0000+0000"
    d.mkdir()
    rng = np.random.default_rng(7)
    full = rng.normal(size=(10, 7))  # 3 pars + 4 sampler cols
    np.savetxt(d / "chain_1.txt", full)
    (d / "pars.txt").write_text(
        "red_noise_gamma\nred_noise_log10_A\nefac\n"
    )
    separate_earliest(str(d), 0.4, ["red_noise"])

    bckp = np.atleast_2d(np.loadtxt(d / "chain_1.txt.bckp"))
    assert bckp.shape == (10, 7) and np.allclose(bckp, full)

    segs = sorted(glob.glob(str(d / "chain_??????????????.txt")))
    assert len(segs) == 1
    head = np.atleast_2d(np.loadtxt(segs[0]))
    assert head.shape == (4, 7) and np.allclose(head, full[:4])

    masked = sorted(glob.glob(str(d / "chain_*_red_noise.txt")))
    assert len(masked) == 1
    mh = np.atleast_2d(np.loadtxt(masked[0]))
    # 2 matching pars + the 4 sampler columns
    assert mh.shape == (4, 6)
    assert np.allclose(mh, full[:4][:, [0, 1, 3, 4, 5, 6]])
    assert (d / "pars_red_noise.txt").read_text().split() == [
        "red_noise_gamma", "red_noise_log10_A",
    ]
    rest = np.atleast_2d(np.loadtxt(d / "chain_1.txt"))
    assert rest.shape == (6, 7) and np.allclose(rest, full[4:])


def test_read_separated_selects_one_family(spark, tmp_path):
    """ADVICE r10 (sources/chains.py SEPARATED_RE): the par-masked
    chain_STAMP_PARS.txt family has FEWER columns than chain_STAMP.txt —
    loading both would misalign par/value pairs. Default selects only the
    full-width family; par_label selects the masked one against
    pars_<label>.txt; a label with no pars file falls back (reference
    get_chain_file_name/get_pars, results.py:427-470)."""
    from enterprise_warp_spark.sources.chains import (
        read_chain_runs,
        resolve_chain_dir,
    )

    d = tmp_path / "0_J0001+0001"
    d.mkdir()
    (d / "pars.txt").write_text("alpha\nbeta\ngamma\n")
    (d / "pars_beta.txt").write_text("beta\n")
    rng = np.random.default_rng(11)
    full = rng.normal(size=(5, 7))
    np.savetxt(d / "chain_20260815000000.txt", full)
    np.savetxt(d / "chain_20260815000000_beta.txt", full[:, [1, 3, 4, 5, 6]])
    # fallback chain_1.txt would only be read if NO segments matched
    np.savetxt(d / "chain_1.txt", np.zeros((2, 7)))

    def load(par_label=None):
        """-> (pars, {par: values in step order})"""
        run = resolve_chain_dir(str(d), separated=True, par_label=par_label)
        rows = read_chain_runs(spark, [run], burn_frac=0.0).collect()
        cols = {}
        for r in sorted(rows, key=lambda r: r["step"]):
            cols.setdefault(r["par"], []).append(r["value"])
        return run.pars, cols

    pars, cols = load()
    assert pars == ["alpha", "beta", "gamma"]
    assert set(cols) == set(pars) and all(len(v) == 5 for v in cols.values())
    assert np.allclose(cols["beta"], full[:, 1])

    pars_b, cols_b = load(par_label="beta")
    assert pars_b == ["beta"]
    assert list(cols_b) == ["beta"] and np.allclose(cols_b["beta"], full[:, 1])

    # label without a pars_<label>.txt -> full-width family (reference
    # get_pars existence fallback)
    pars_f, cols_f = load(par_label="nonexistent")
    assert pars_f == ["alpha", "beta", "gamma"]
    assert set(cols_f) == set(pars_f)
    assert all(len(v) == 5 for v in cols_f.values())


def test_expand_orfs_rejects_unsupported():
    """ADVICE r10: -g quadrupole (documented by the reference but without
    a curve here) must die with a clear SystemExit naming the ORF, not a
    bare KeyError in run_os_pipeline."""
    import pytest

    from enterprise_warp_spark.results import expand_orfs

    with pytest.raises(SystemExit, match="quadrupole"):
        expand_orfs("hd,quadrupole")


def test_cross_flag_separate_load_and_saved_os_compose(spark, example_tree):
    """VERDICT r10 #8 — the flag composition the reference README implies,
    end-to-end on one tree: compute + persist the OS (-o), separate the
    chain head (-u 0.2), then run -s 1 -o 1 -L 1: the chain stages load
    the separated segments while -L returns the SAVED OS results
    bit-for-bit — chain surgery must not perturb loaded OS artifacts."""
    from enterprise_warp_spark.analytics.results_pipeline import (
        run_results_pipeline,
    )
    from enterprise_warp_spark.results import main
    from enterprise_warp_spark.run_paramfile import main as run_main

    prfile = os.path.join(example_tree, "example_params",
                          "default_model_dynesty.dat")
    out = run_main(
        ["--prfile", prfile, "--num", "0", "--wipe_old_output", "1"],
        spark=spark,
    )
    run_dir = out["output_dir"]
    n_full = np.loadtxt(os.path.join(run_dir, "chain_1.txt")).shape[0]

    res_a = main(
        ["--result", prfile, "--optimal_statistic", "1",
         "--optimal_statistic_orfs", "hd",
         "--optimal_statistic_nsamples", "12"],
        spark=spark,
    )
    want = [r.asDict() for r in res_a["os"]["hd"]["os"].collect()]
    want_marg = sorted(
        tuple(sorted(r.asDict().items()))
        for r in res_a["os"]["hd"]["marginalised"].collect()
    )

    main(["--result", prfile, "--separate_earliest", "0.2"], spark=spark)

    res_b = main(
        ["--result", prfile, "--load_separated", "1",
         "--optimal_statistic", "1",
         "--load_optimal_statistic_results", "1",
         "--optimal_statistic_orfs", "hd", "--info", "1"],
        spark=spark,
    )
    got = [r.asDict() for r in res_b["os"]["hd"]["os"].collect()]
    assert got == want  # -L: loaded == computed, to the last bit
    got_marg = sorted(
        tuple(sorted(r.asDict().items()))
        for r in res_b["os"]["hd"]["marginalised"].collect()
    )
    assert got_marg == want_marg and len(got_marg) == 12

    # the chain stages really ran on the separated head only
    sep = run_results_pipeline(
        spark, os.path.dirname(run_dir), burn_frac=0.0, load_separated=True
    )
    steps = sep["chains_long"].selectExpr("max(step) AS m").first()["m"]
    assert steps == int(round(0.2 * n_full)) - 1
    # -u's backup preserved the full pre-surgery chain
    bckp = np.loadtxt(os.path.join(run_dir, "chain_1.txt.bckp"))
    assert bckp.shape[0] == n_full


def test_run_paramfile_adaptive_sampler(spark, example_tree):
    """sampler: adaptive routes the single-model CLI through the CEM +
    tempered-importance posterior (r13): same reference run-dir layout
    and 12-par naming, but the chain is SIR-resampled from the
    PROPOSAL-CORRECTED logw weights — posterior concentration a single
    prior-IS round cannot reach at 12 dims."""
    from enterprise_warp_spark.run_paramfile import main

    src = os.path.join(example_tree, "example_params",
                       "default_model_dynesty.dat")
    txt = open(src).read().replace("sampler: dynesty", "sampler: adaptive")
    txt = txt.replace("nlive: 800", "nlive: 256")
    prfile = os.path.join(example_tree, "example_params", "adaptive.dat")
    open(prfile, "w").write(txt)
    out = main(["--prfile", prfile, "--num", "0"], spark=spark)
    d = out["output_dir"]
    assert os.path.isfile(os.path.join(d, "chain_1.txt"))
    pars = open(os.path.join(d, "pars.txt")).read().split()
    assert len(pars) == 12 and "J1832-0836_red_noise_log10_A" in pars
    chain = np.loadtxt(os.path.join(d, "chain_1.txt"))
    assert np.isfinite(chain).all()
    # posterior concentration: the dominant backend's efac column must be
    # far tighter than its U(0, 10) prior (std ~2.89) — the adaptive
    # waves actually found and weighted the mode
    j = pars.index("J1832-0836_PDFB_20CM_efac")
    assert np.std(chain[:, j]) < 0.6, np.std(chain[:, j])
    # resampled chain has real diversity (not one repeated row)
    assert len(np.unique(chain[:, j])) > 20
    # the adaptive path hands back a finite evidence estimate for free
    assert np.isfinite(out["log_evidence"])
    # r14: the run dir carries adaptive_info.json with evidence + the
    # ESS/wave diagnostics, and the returned dict surfaces ess
    import json as _json

    with open(os.path.join(d, "adaptive_info.json")) as fh:
        info = _json.load(fh)
    assert info["log_evidence"] == out["log_evidence"]
    assert info["ess"] > 0 and out["ess"] == info["ess"]
    assert len(info["ess_per_wave"]) == info["n_waves"] == 3
    # §3.2 reads the adaptive run dir exactly like any PTMCMC-layout dir
    from enterprise_warp_spark.results import main as results_main

    res = results_main(["--result", prfile, "--info", "1"], spark=spark)
    assert res["run_ids"] == ["0_J1832-0836"]
    # r14: --info surfaces the adaptive run's evidence + ESS diagnostics
    ai = res["adaptive_info"]["0_J1832-0836"]
    assert ai["log_evidence"] == out["log_evidence"] and ai["ess"] > 0


def test_run_paramfile_adaptive_ess_target(spark, example_tree):
    """r14: the `ess_target:`/`max_waves:` paramfile knobs reach the
    ESS-targeted wave loop — the run appends T=1 waves past the 3-wave
    ladder, adaptive_info.json records the per-wave trace, and the
    achieved ESS meets the target (or the warning path fires at the
    cap)."""
    import json as _json

    from enterprise_warp_spark.run_paramfile import main

    src = os.path.join(example_tree, "example_params",
                       "default_model_dynesty.dat")
    txt = open(src).read().replace(
        "sampler: dynesty", "sampler: adaptive\ness_target: 60\nmax_waves: 8"
    )
    txt = txt.replace("nlive: 800", "nlive: 256")
    prfile = os.path.join(example_tree, "example_params",
                          "adaptive_ess.dat")
    open(prfile, "w").write(txt)
    out = main(["--prfile", prfile, "--num", "0"], spark=spark)
    with open(os.path.join(out["output_dir"], "adaptive_info.json")) as fh:
        info = _json.load(fh)
    assert info["ess_target"] == 60.0
    assert info["n_waves"] > 3  # extension waves actually fired
    assert len(info["ess_per_wave"]) == info["n_waves"]
    if info["ess_target_met"]:
        assert info["ess"] >= 60.0
    else:
        assert info["n_waves"] == 8  # hit the stated cap
    assert out["ess"] == info["ess"]
