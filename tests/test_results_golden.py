"""Results CLI golden outputs over seeded run directories.

Three PTMCMC run dirs (one pulsar name with a '+') and one bilby dir sit
under a base path containing a space. The commands `-i 1 -f 1 -l 1`,
`-c 1 -n J1953+3232`, and `-u 0.3` followed by `-s 1 -l 1` must write
JSON and PNG files whose sha256 digests equal the recorded ones, and
`-m 1` a covm_all.csv with the recorded digest. The digests were recorded
with the per-directory ingest that preceded the one-scan ingest, so any
change to what the CLI writes shows up here.

Four more commands, each over fresh run dirs, pin what the `-p` and `-n`
filters, a corner over a run without nmodel and the `-H`/`-a` grids
write; their digests were recorded before the statistics pass
(`analytics.chains.stats_by_run`) replaced the per-statistic queries.

A run dir whose chain is empty must be skipped exactly as before. The
last test pins the Spark job count: `-i 1 -f 1 -l 1` over 2 and over 6
run dirs launches the same number of jobs, at most 2 without a bilby dir,
and the same number again with one; `-c 1 -n <psr>` launches at most 4,
the same over 2 and 6 dirs.
"""

import hashlib
import json
import os

import numpy as np
import pytest

# chain-dir name -> (backends, chain rows, carries nmodel)
CHAIN_RUNS = {
    "0_J0437-4715": (("PKS_20CM",), 320, False),
    "1_J1953+3232": (("PKS_10CM", "PKS_20CM"), 400, True),
    "2_J2145-0750": (("PKS_50CM",), 240, False),
}
BILBY_RUN = "3_J1909-3744"

GOLDEN = {
    "ifl": {
        "noisefiles/0_J0437-4715_credlvl.json":
            "0c5f4e2ab58723ff25005755825acd77705ac81ce2776fa0ca644359678ad891",
        "noisefiles/0_J0437-4715_noise.json":
            "32ce57e63c9e6d16bfab0fe6f0bf33ba2e6c5cdbfc122f9fe36163252d8bfe1f",
        "noisefiles/1_J1953+3232_credlvl.json":
            "14a0b3b48f16109d4677bb9cf96f4be673cd1a617e964fde477d1f9ad23166df",
        "noisefiles/1_J1953+3232_noise.json":
            "85fcd7d6fa8a66c99b2cf38d85de5e0dc3e9bfa4e872620c9273443b0627f4cc",
        "noisefiles/2_J2145-0750_credlvl.json":
            "9aae698dbd20b1023ff2b03380ffdfd1a765eed86f8e9182c07382fe12cb1b8d",
        "noisefiles/2_J2145-0750_noise.json":
            "f45e5152a7d55c186d713946ee9f615a045d8cb176357bd9b0ff855123e20e09",
        "noisefiles/3_J1909-3744_credlvl.json":
            "766cb6bd1eff876b5fa61aea84b09326674dab5f60f0ec795ac2c80d014b436f",
        "noisefiles/3_J1909-3744_noise.json":
            "d78f1b6702f9ffbae300c6793a61bec80a9e12e66b94961bc7cb5aaa4476d5ff",
    },
    "corner": {
        "1_J1953+3232/1_J1953+3232_corner.json":
            "d076947b7ff49194492d1d47c5e25b1840767e3f563cdfd0839b3e20ffb208c5",
        "1_J1953+3232_corner_0_.png":
            "18f00fe9b857fc271c3ffa26221ed01531b54960edc159eb1347ea68e2a9d9e5",
        "1_J1953+3232_corner_1_.png":
            "0c63acf59466fb797a803a55aab1d6fd671d04410f7b8c718bd0f53e0459fa78",
    },
    "separated": {
        "noisefiles/0_J0437-4715_credlvl.json":
            "eb9c5e9d5a5bfca3d46a299d421e77c713080ff21d36c0762db7c666f0c8c1ec",
        "noisefiles/1_J1953+3232_credlvl.json":
            "94e30b29dd8a62afc477c0ae3e5882b0bc3dedff444b86caf18d5ae3d2a627ff",
        "noisefiles/2_J2145-0750_credlvl.json":
            "84cd50d5604b0e349d22a79f0ec0755250c7bca6fe132059a03151eab70d1a77",
        "noisefiles/3_J1909-3744_credlvl.json":
            "766cb6bd1eff876b5fa61aea84b09326674dab5f60f0ec795ac2c80d014b436f",
    },
}
COVM_DIGEST = "6a1db0bae3d033510a14f55b88a2d1de63b88eca482f3317d39f2852f6f79703"

# one command each over fresh run dirs: the -p and -n filters, a corner
# over a run without nmodel, and the hist and trace grids
FLAG_COMMANDS = {
    "par": ["-i", "1", "-f", "1", "-l", "1", "-p", "efac", "-p", "gamma"],
    "name": ["-f", "1", "-l", "1", "-n", "J2145-0750"],
    "corner_no_nmodel": ["-c", "1", "-n", "J0437-4715"],
    "hists_chains": ["-H", "1", "-a", "1"],
}
GOLDEN_FLAGS = {
    "corner_no_nmodel": {
        "0_J0437-4715/0_J0437-4715_corner.json":
            "af4a22bcd09527c939f0f2f3710375faf87144d99c5729b6a2cbda9755a3d420",
        "0_J0437-4715_corner__.png":
            "84d3bb55a9da5d88f911e418cde6f1ba1fed37237fbc67c5690416c6f7464277",
    },
    "hists_chains": {
        "0_J0437-4715_hist_pars_.png":
            "0f13bb7d5cf27847f294dc210d02a5cf985abc341bc8c7860d9714ab6b3fdfc7",
        "0_J0437-4715_samples_trace_.png":
            "bd8f31dd9de243aef2d0e8bfffad16ce0e8e6e2fe35a2e8f0003b65baec797c2",
        "1_J1953+3232_hist_pars_.png":
            "72c846a34cf73b16c34ce67a7bc9b08f53cb4fa18ba2bbac75007d2fd8dee331",
        "1_J1953+3232_samples_trace_.png":
            "d0036187d94619a42d5098bd0c3fb0d59baac1e3a3a19d0951ab1278f06ba35d",
        "2_J2145-0750_hist_pars_.png":
            "2f46c8de29d1b8fc44cd4fb6a101aae92bb98a07c4ad3efa38078c6b98cf3802",
        "2_J2145-0750_samples_trace_.png":
            "b71f4d7b49dcd29367fa347179997e7e23d810ce141436783a274b77f0c92ef7",
        "3_J1909-3744_hist_pars_.png":
            "9127e584052168f89d0f744eceeb8860fd5e023d894cdd5d32b906b540da428d",
        "3_J1909-3744_samples_trace_.png":
            "f856c91edcb289c23e60e71f7783a5f0f304f7f3e6749f7977f6fc2735df656a",
    },
    "name": {
        "noisefiles/2_J2145-0750_credlvl.json":
            "9aae698dbd20b1023ff2b03380ffdfd1a765eed86f8e9182c07382fe12cb1b8d",
        "noisefiles/2_J2145-0750_noise.json":
            "f45e5152a7d55c186d713946ee9f615a045d8cb176357bd9b0ff855123e20e09",
    },
    "par": {
        "noisefiles/0_J0437-4715_credlvl.json":
            "362a9ade6621be4f79ab758d26fd6595633f8ec321e2352fc0942f6b26d43d0c",
        "noisefiles/0_J0437-4715_noise.json":
            "32ce57e63c9e6d16bfab0fe6f0bf33ba2e6c5cdbfc122f9fe36163252d8bfe1f",
        "noisefiles/1_J1953+3232_credlvl.json":
            "e16ac016dfe9c90bd1ed620b5634041129149b23993ee58f3ee654f770d60585",
        "noisefiles/1_J1953+3232_noise.json":
            "85fcd7d6fa8a66c99b2cf38d85de5e0dc3e9bfa4e872620c9273443b0627f4cc",
        "noisefiles/2_J2145-0750_credlvl.json":
            "da86551a9e0b216e989220d0bfc06d3574dede002a79359b2b85e5fcb62a007d",
        "noisefiles/2_J2145-0750_noise.json":
            "f45e5152a7d55c186d713946ee9f615a045d8cb176357bd9b0ff855123e20e09",
        "noisefiles/3_J1909-3744_credlvl.json":
            "335447c7cd2545068cc8e6ec6421e96a1f96b4860ca71d3d42de014e320e704b",
        "noisefiles/3_J1909-3744_noise.json":
            "d78f1b6702f9ffbae300c6793a61bec80a9e12e66b94961bc7cb5aaa4476d5ff",
    },
}


def _write_chain_dir(run_dir, psr, backends, rows, nmodel, rng):
    os.makedirs(run_dir)
    pars, cols = [], []
    for be in backends:
        pars.append(f"{psr}_{be}_efac")
        cols.append(np.clip(rng.normal(1.0, 0.1, rows), 0.5, 2.0))
        pars.append(f"{psr}_{be}_log10_equad")
        cols.append(rng.uniform(-8.5, -6.5, rows))
    pars += [f"{psr}_red_noise_log10_A", f"{psr}_red_noise_gamma"]
    cols.append(rng.normal(-14.5, 0.4, rows))
    cols.append(rng.normal(3.5, 0.8, rows))
    if nmodel:
        pars.append("nmodel")
        cols.append(rng.uniform(-0.5, 1.5, rows))
    lnl = rng.normal(500.0, 3.0, rows)
    mat = np.column_stack(cols + [lnl, lnl, np.ones(rows), np.ones(rows)])
    np.savetxt(os.path.join(run_dir, "chain_1.txt"), mat)
    with open(os.path.join(run_dir, "pars.txt"), "w") as fh:
        fh.write("\n".join(pars) + "\n")


def _write_bilby_dir(run_dir, psr, rng, n=300):
    os.makedirs(run_dir)
    labels = [f"{psr}_red_noise_log10_A", f"{psr}_red_noise_gamma"]
    post = {
        labels[0]: (-14.0 + 0.3 * rng.standard_normal(n)).round(6).tolist(),
        labels[1]: (4.0 + 0.5 * rng.standard_normal(n)).round(6).tolist(),
        "log_likelihood": rng.uniform(-1200, -1100, n).round(4).tolist(),
        "log_prior": rng.uniform(-5, 0, n).round(4).tolist(),
    }
    doc = {
        "label": "run",
        "parameter_labels": labels,
        "posterior": {"__dataframe__": True, "content": post},
    }
    with open(os.path.join(run_dir, "run_result.json"), "w") as fh:
        json.dump(doc, fh)


def make_run_dirs(base, names=tuple(CHAIN_RUNS), bilby=True, seed=7):
    """Seeded run dirs under `base`; -> base."""
    rng = np.random.default_rng(seed)
    for name in names:
        backends, rows, nmodel = CHAIN_RUNS.get(name, (("PKS_20CM",), 200, False))
        _write_chain_dir(os.path.join(base, name), name.split("_", 1)[1],
                         backends, rows, nmodel, rng)
    if bilby:
        _write_bilby_dir(os.path.join(base, BILBY_RUN),
                         BILBY_RUN.split("_", 1)[1], rng)
    return base


def output_digests(base):
    """sha256 of every JSON/PNG under base except the bilby inputs."""
    out = {}
    for dp, _, fns in os.walk(base):
        for fn in fns:
            if fn.endswith((".json", ".png")) and not fn.endswith("_result.json"):
                p = os.path.join(dp, fn)
                with open(p, "rb") as fh:
                    digest = hashlib.sha256(fh.read()).hexdigest()
                out[os.path.relpath(p, base)] = digest
    return out


def run_golden_commands(spark, base):
    """-> {step: digests after the step} for the three golden steps."""
    from enterprise_warp_spark.results import main

    seen = {}
    main(["--result", base, "-i", "1", "-f", "1", "-l", "1"], spark=spark)
    seen["ifl"] = output_digests(base)
    main(["--result", base, "-c", "1", "-n", "J1953+3232"], spark=spark)
    seen["corner"] = {k: v for k, v in output_digests(base).items()
                      if k not in seen["ifl"]}
    main(["--result", base, "-u", "0.3"], spark=spark)
    main(["--result", base, "-s", "1", "-l", "1"], spark=spark)
    seen["separated"] = {k: v for k, v in output_digests(base).items()
                         if "credlvl" in k}
    return seen


def test_results_cli_golden_digests(spark, tmp_path):
    base = make_run_dirs(str(tmp_path / "results base" / "out"))
    assert run_golden_commands(spark, base) == GOLDEN


@pytest.mark.parametrize("step", sorted(FLAG_COMMANDS))
def test_results_cli_flag_digests(spark, tmp_path, step):
    from enterprise_warp_spark.results import main

    base = make_run_dirs(str(tmp_path / "out"))
    main(["--result", base] + FLAG_COMMANDS[step], spark=spark)
    assert output_digests(base) == GOLDEN_FLAGS[step]


def test_results_cli_covm_digest(spark, tmp_path):
    """-m 1 collects each run's cov.npy against its pars.txt names."""
    from enterprise_warp_spark.results import main

    base = make_run_dirs(str(tmp_path / "out"), bilby=False)
    rng = np.random.default_rng(3)
    for name in CHAIN_RUNS:
        with open(os.path.join(base, name, "pars.txt")) as fh:
            n = len(fh.read().split())
        a = rng.normal(size=(n, n))
        np.save(os.path.join(base, name, "cov.npy"), a @ a.T)
    main(["--result", base, "-m", "1"], spark=spark)
    with open(os.path.join(base, "covm_all.csv"), "rb") as fh:
        assert hashlib.sha256(fh.read()).hexdigest() == COVM_DIGEST


def test_results_cli_skips_a_run_with_no_samples(spark, tmp_path):
    """A run dir whose chain has no rows holds no samples after burn-in:
    it is not listed and gets no output files, and the other runs'
    outputs do not change."""
    from enterprise_warp_spark.results import main

    base = make_run_dirs(str(tmp_path / "out"))
    empty = os.path.join(base, "4_J0000+0000")
    os.makedirs(empty)
    open(os.path.join(empty, "chain_1.txt"), "w").close()
    with open(os.path.join(empty, "pars.txt"), "w") as fh:
        fh.write("J0000+0000_red_noise_gamma\n")
    res = main(["--result", base, "-i", "1", "-f", "1", "-l", "1"], spark=spark)
    assert "4_J0000+0000" not in res["run_ids"]
    assert output_digests(base) == GOLDEN["ifl"]


def _count_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_results_job_count_is_flat_in_run_dirs(spark, tmp_path):
    """Flat in the number of PTMCMC run dirs, with and without a bilby dir
    beside them (a bilby dir is read on its own, so it adds jobs). Without
    one, `-i 1 -f 1 -l 1` runs the ingest's exchange and the statistics
    pass (2 jobs), and `-c 1 -n <psr>` adds the corner's counts over a
    second read of the chains (4 jobs)."""
    from enterprise_warp_spark.results import main

    jobs, corner_jobs = {}, {}
    for bilby in (False, True):
        for n_dirs in (2, 6):
            names = [f"{i}_J{1000 + i:04d}+{2000 + i:04d}" for i in range(n_dirs)]
            base = make_run_dirs(str(tmp_path / f"{bilby}{n_dirs}"), names=names,
                                 bilby=bilby)
            argv = ["--result", base, "-i", "1", "-f", "1", "-l", "1"]
            jobs[bilby, n_dirs] = _count_jobs(
                spark, f"results-jobs-{bilby}-{n_dirs}",
                lambda: main(argv, spark=spark),
            )
            n_files = len(os.listdir(os.path.join(base, "noisefiles")))
            assert n_files == 2 * (n_dirs + bilby)
            if not bilby:
                argv = ["--result", base, "-c", "1", "-n", names[0].split("_")[1]]
                corner_jobs[n_dirs] = _count_jobs(
                    spark, f"results-corner-jobs-{n_dirs}",
                    lambda: main(argv, spark=spark),
                )
    assert jobs[False, 2] == jobs[False, 6] <= 2, jobs
    assert jobs[True, 2] == jobs[True, 6], jobs
    assert corner_jobs[2] == corner_jobs[6] <= 4, corner_jobs
