"""The shipped examples/ directory must work with the reference's
documented command shapes (docs/index.rst) on its GENERATED data tree —
run as real subprocesses from the tree root, exactly as a user would."""

import json
import os
import subprocess
import sys

import numpy as np
import pytest

EXAMPLES = os.path.join(os.path.dirname(__file__), "..", "examples")


@pytest.fixture(scope="module")
def demo_tree(tmp_path_factory):
    from examples_loader import load_module

    dest = str(tmp_path_factory.mktemp("demo_tree"))
    mod = load_module("make_example_data")
    prfile = mod.main(["--dest", dest])
    return dest, prfile


def test_generated_tree_layout(demo_tree):
    dest, prfile = demo_tree
    for p in ("data/J0101+0101.par", "data/J0101+0101.tim",
              "data/J0202-0202.par", "example_params/demo_model.dat",
              "example_noisemodels/demo_noise_1.json"):
        assert os.path.isfile(os.path.join(dest, p)), p
    doc = json.load(open(os.path.join(
        dest, "example_noisemodels", "demo_noise_1.json")))
    assert doc["model_name"] == "demo_1"


def test_run_example_paramfile_subprocess(demo_tree):
    """The documented command, verbatim, from the tree root."""
    dest, prfile = demo_tree
    script = os.path.abspath(os.path.join(EXAMPLES, "run_example_paramfile.py"))
    # NO PYTHONPATH injection: the shim itself must make the package
    # importable on the driver AND export it to Spark's python workers
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, script,
         "--prfile", "example_params/demo_model.dat", "--num", "0"],
        cwd=dest, capture_output=True, text=True, timeout=420, env=env,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    run_dir = os.path.join(dest, "out", "demo_1_demo", "0_J0101+0101")
    assert os.path.isfile(os.path.join(run_dir, "chain_1.txt"))
    pars = open(os.path.join(run_dir, "pars.txt")).read().split()
    # by_backend white noise for the 2 demo backends + spin noise
    assert any("DEMO_10CM_efac" in q for q in pars)
    # spin_noise compiles to the reference's red_noise par naming
    assert any("red_noise_log10_A" in q for q in pars)
    chain = np.loadtxt(os.path.join(run_dir, "chain_1.txt"))
    assert chain.shape[1] == len(pars) + 4 and np.isfinite(chain).all()


def test_results_cli_on_generated_tree(spark, demo_tree):
    """results CLI stages over the generated run (in-process: the chain
    from the subprocess test above)."""
    dest, prfile = demo_tree
    run_dir = os.path.join(dest, "out", "demo_1_demo", "0_J0101+0101")
    if not os.path.isdir(run_dir):
        pytest.skip("run subprocess test first (pytest order)")
    from enterprise_warp_spark.results import main

    res = main(["--result", prfile, "--info", "1", "--corner", "1",
                "--noisefiles", "1"], spark=spark)
    assert res["run_ids"] == ["0_J0101+0101"]
    assert res["plots"] and all(os.path.isfile(p) for p in res["plots"])
    [noise_path] = res["noisefiles"]
    doc = json.load(open(noise_path))
    assert any(k.endswith("_efac") for k in doc)


def test_custom_models_plugin_registers():
    from examples_loader import load_module

    from enterprise_warp_spark.plans.registry import (
        SIGNAL_REGISTRY,
        build_signal,
    )

    load_module("custom_models")
    try:
        spec = build_signal("my_powerlaw", "30_nfreqs")
        assert spec.nfreqs == 30
        assert [p.name for p in spec.priors] == ["my_amp", "my_cc"]
    finally:
        SIGNAL_REGISTRY.pop("my_powerlaw", None)


def test_bilby_example_in_process(spark, demo_tree):
    """bilby_example: inference -> bilby-style result JSON -> the SAME
    analytics pipeline over the S6b source (load_run_dirs dispatch)."""
    from examples_loader import load_module

    dest, prfile = demo_tree
    mod = load_module("bilby_example")
    out = mod.main(["--prfile", prfile, "--num", "0"], spark=spark)
    assert os.path.basename(out["result_path"]) == "dynesty_result.json"
    doc = json.load(open(out["result_path"]))
    assert doc["posterior"]["__dataframe__"] is True
    names = {r["par"] for r in out["levels"]}
    assert any("red_noise_log10_A" in n for n in names)
    for r in out["levels"]:
        assert r["p16"] <= r["p50"] <= r["p84"]


def test_generated_tree_content_hashes(demo_tree):
    """Golden pin (VERDICT r10 #6): make_example_data is fully seeded, so
    every generated byte is deterministic — hash-pin the tree so silent
    generator drift can't change what the documented commands demonstrate.
    If a generator change is INTENTIONAL, update these hashes in the same
    commit and re-run the full examples suite."""
    import hashlib

    dest, _ = demo_tree
    golden = {
        "data/J0101+0101.par": "6b834e42da76c6f1",
        "data/J0101+0101.tim": "6ed8b46c3047a6c9",
        "data/J0202-0202.par": "ef0499adcc4b4965",
        "data/J0202-0202.tim": "d2d2ec5547ac471b",
        "example_noisemodels/demo_noise_1.json": "fd8062f8c3a23bed",
        "example_params/demo_model.dat": "13ff28f59f6be86c",
    }
    got = {}
    for rel in golden:
        with open(os.path.join(dest, rel), "rb") as fh:
            got[rel] = hashlib.sha256(fh.read()).hexdigest()[:16]
    assert got == golden
    # and nothing ELSE was generated (a new undocumented file should be
    # added to the pin deliberately)
    actual = set()
    for root, dirs, files in os.walk(dest):
        if "out" in dirs:
            dirs.remove("out")  # run output from sibling tests
        for f in files:
            actual.add(os.path.relpath(os.path.join(root, f), dest))
    assert actual == set(golden)


def test_curate_corpus_example_subprocess():
    """The LLM-pipeline example runs end-to-end on the sf0.001 documents
    table and its funnel accounting adds up (dropped + kept == input)."""
    import re
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "examples/curate_corpus_example.py",
         "--sf-dir", "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=420, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    nums = {
        m.group(1): int(m.group(2))
        for m in re.finditer(r"(\w+):\s+(\d+)$", out.stdout, re.M)
    }
    assert nums["kept"] == nums["corpus"] if "corpus" in nums else True
    total = (
        nums["dropped_quality"] + nums["dropped_lang"]
        + nums["dropped_dup"] + nums["kept"]
    )
    assert total == nums["documents"]
