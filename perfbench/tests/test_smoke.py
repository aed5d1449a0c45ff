"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/tests -q

Starts a local Spark session per run (about two minutes in all).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import run as bench
from perfbench.workloads import Catalog, CheckFailed, InferPath, Op

TINY = {
    "pta": {"infer_slots": ((60, 1), (60, 2)),
            "results_slots": ((50, 1, 200), (50, 2, 300))},
    "catalog": {"timed": ("dedup_exact", "x_importance_wave")},
}


def _spec() -> dict:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_every_printed_metric():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(TINY)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == bench.END_TO_END
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == {k: bench._unit(k) for k in bench.PER_LAYER}


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_tiny_run_is_correct_and_prints_every_metric(workload, trace):
    out = bench.run(workload, seed=1, seconds=0.1, trace=trace, sizes=TINY[workload])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def _fail_op(result, check) -> dict:
    op = Op("corrupt", lambda ctx: result, check)
    return bench.run_op(bench.Ctx(None), op, 0)


def test_truncated_chain_counts_as_failed_op(tmp_path):
    run_dir = tmp_path / "0_J0000+0000"
    run_dir.mkdir()
    (run_dir / "pars.txt").write_text("J0000+0000_A_efac\nJ0000+0000_red_noise_gamma\n")
    good = np.column_stack([np.ones(8), np.full(8, 3.0), np.zeros((8, 4))])
    np.savetxt(run_dir / "chain_1.txt", good)
    InferPath._check({"output_dir": str(run_dir)})  # the intact chain passes

    np.savetxt(run_dir / "chain_1.txt", good[:, :-1])  # a column short
    with pytest.raises(CheckFailed):
        InferPath._check({"output_dir": str(run_dir)})
    rec = _fail_op({"output_dir": str(run_dir)}, InferPath._check)
    assert not rec["ok"] and rec["error"].startswith("check:")


def test_wrong_digest_counts_as_failed_op(tmp_path):
    op = Catalog(str(tmp_path), seed=1)._op("dedup_exact")
    wrong = pd.DataFrame({"doc_id": [1, 2], "keep": [True, False]})
    with pytest.raises(CheckFailed):
        op.check(wrong)
    rec = _fail_op(wrong, op.check)
    assert not rec["ok"] and "digest" in rec["error"]
