"""Inference and optimal-statistic CLI golden outputs, and the Spark shape
of one inference op.

Inputs come from `perfbench.inputs` (three pulsars with 1, 3 and 2
backends for `run_paramfile`; the four seeded run dirs of
`make_results_inputs` for the OS command). The commands run in one child
process on `local[4]` with the CLI's own session settings, because the
prior draws (`rand` per partition) and the row order of the scored table
follow the session's parallelism and shuffle partitions.

- `run_paramfile` for each pulsar, one `--drop 1` array run and one
  `sampler: adaptive` run must write `chain_1.txt` and `pars.txt` with the
  recorded sha256s.
- `results -o 1 -N 50 -g hd` must write `os`, `binned` and `marginalised`
  parquet whose rows, normalised as in `tests/oracle.py`, hash to the
  recorded digests (`perfbench.workloads.frame_digest`).
- The residual frame is an Arrow-built local relation, and a warm
  single-pulsar op launches at most 5 Spark jobs and one Python task.
- Every run returns its posterior summary row.

The digests were recorded with the package as it was before the residual
frame was built through Arrow, so any change to what the CLIs write shows
up here.
"""

import hashlib
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (TOAs, backends) per pulsar; slot 0 is make_infer_inputs' warm-up pulsar
INFER_SLOTS = ((120, 1), (200, 3), (150, 2))
INFER_SEED = 1207
RESULTS_SEED = 1208
ADAPTIVE_NSAMP = 64

GOLDEN_CHAINS = {
    "single_0": {
        "chain_1.txt":
            "c2056fd6915d07cff777d8be14eeb6859fac2157ddf2249dd17dd7ff12771434",
        "pars.txt":
            "4175b53794b5b4d8f16b77f8e75662f1c5a328e4da048b04de2522a9bf237a2b",
    },
    "single_1": {
        "chain_1.txt":
            "740fbef3b3ba8dd8df4b5a55bbcacb2edbc67a32e892f31a38cfdfceca1315ca",
        "pars.txt":
            "78e3c3ca3dbf16736bc18fd6ec3ebd97bd6f78ecf7a3569599686abc508a21ab",
    },
    "single_2": {
        "chain_1.txt":
            "92706d44fdf04bdcc4947bb72236418e103f8d7194edc4d980ea3e0f2bcafa89",
        "pars.txt":
            "020453837ade0fdbe5a14c1bb23720edcff2a954a3459f8c9c9212c1bd1bc9e1",
    },
    "drop": {
        "chain_1.txt":
            "272618ca4d47b911fdb484fa877df02dfb15a50b3667da17e0bff7139a007d6a",
        "pars.txt":
            "27b107cc11a2fa051369c39878cdf7a2c9b1b4d07012115871cbb5bf4d891e9d",
    },
    "adaptive": {
        "chain_1.txt":
            "decf4f7544efdc35ff550a4cb093fa30e787aa12e30b8064783fd7db60c659e5",
        "pars.txt":
            "4175b53794b5b4d8f16b77f8e75662f1c5a328e4da048b04de2522a9bf237a2b",
    },
}
GOLDEN_OS = {
    "os": [1, "9bffff1c58e9740518de0c0cee9423915d7ad7556a3d5dd5c35e71ad30d84f29"],
    "binned": [6, "ea4e546ca6e66011d4ee38a80edbacf247ff75034c999875d3a7c2bbb6dcdb0a"],
    "marginalised": [50, "88550dbdcbf9051e7aa1f8c47ee0b3b6adac6963127fe93cf97fc09d41e81e21"],
}

# stage-graph names of the operators that run Python code in a task
PYTHON_MARKS = ("Python", "InPandas", "InArrow")


def _sha(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _python_tasks(spark, job_ids):
    """Tasks of the given jobs' stages that run Python code."""
    store = spark.sparkContext._jsc.sc().statusStore()
    n, seen = 0, set()
    for job in job_ids:
        stages = store.job(job).stageIds()
        for i in range(stages.size()):
            sid = stages.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            names, todo = [], [store.operationGraphForStage(sid).rootCluster()]
            while todo:
                c = todo.pop()
                names.append(c.name())
                nodes, kids = c.childNodes(), c.childClusters()
                names += [nodes.apply(k).name() for k in range(nodes.size())]
                todo += [kids.apply(k) for k in range(kids.size())]
            if any(m in name for name in names for m in PYTHON_MARKS):
                n += sd.numCompleteTasks()
    return n


def _spark_shape(spark, group, fn):
    """-> (fn's result, Spark jobs it launched, Python tasks in them)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    return out, len(jobs), _python_tasks(spark, jobs)


def _child(work):
    """Run every golden command in this process; -> report dict."""
    from enterprise_warp_spark import results, run_paramfile
    from enterprise_warp_spark.session import get_spark
    from perfbench.inputs import make_infer_inputs, make_results_inputs
    from perfbench.workloads import frame_digest

    spark = get_spark(
        "infer-golden", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    report = {"chains": {}, "shape": {}, "summary": {}, "os": {}}
    try:
        prfile, warm, _ = make_infer_inputs(
            os.path.join(work, "infer"), INFER_SEED, slots=INFER_SLOTS
        )
        pairs = run_paramfile.paired_data_files(
            os.path.join(work, "infer", "data")
        )
        psr, par, tim = pairs[warm]
        res, _, _ = run_paramfile.build_standalone_residuals(
            spark, psr, par, tim
        )
        report["residuals"] = {
            "plan": res._jdf.queryExecution().executedPlan().nodeName(),
            "schema": res.schema.simpleString(),
            "rows": res.count(),
        }

        def record(label, argv):
            out, jobs, py_tasks = _spark_shape(
                spark, f"golden-{label}",
                lambda: run_paramfile.main(argv, spark=spark),
            )
            d = out["output_dir"]
            report["chains"][label] = {
                f: _sha(os.path.join(d, f)) for f in ("chain_1.txt", "pars.txt")
            }
            report["shape"][label] = [jobs, py_tasks]
            report["summary"][label] = [len(out["summary"].columns),
                                        len(out["pars"])]

        for num in range(len(pairs)):
            record(f"single_{num}", ["--prfile", prfile, "--num", str(num)])
        record("drop", ["--prfile", prfile, "--num", str(warm), "--drop", "1"])
        with open(prfile) as fh:
            text = fh.read()
        adaptive = prfile.replace(".dat", "_adaptive.dat")
        with open(adaptive, "w") as fh:
            fh.write(
                text.replace("sampler: dynesty", "sampler: adaptive")
                .replace("paramfile_label: bench", "paramfile_label: adaptive")
                .replace("nsamp: 400", f"nsamp: {ADAPTIVE_NSAMP}")
            )
        record("adaptive", ["--prfile", adaptive, "--num", str(warm)])

        rprfile, _, _ = make_results_inputs(
            os.path.join(work, "results"), RESULTS_SEED
        )
        results.main(
            ["--result", rprfile, "-o", "1", "-N", "50", "-g", "hd"],
            spark=spark,
        )
        dest = os.path.join(work, "results", "out", "demo_1_bench",
                            "os_results", "hd")
        for part in ("os", "binned", "marginalised"):
            pdf = spark.read.parquet(os.path.join(dest, part)).toPandas()
            report["os"][part] = list(frame_digest(pdf))
    finally:
        spark.stop()
    return report


@pytest.fixture(scope="module")
def report(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("golden"))
    out = os.path.join(work, "report.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=ROOT,
               PYSPARK_PYTHON=sys.executable)
    code = (
        "import json, sys; from tests.test_infer_golden import _child; "
        "report = _child(sys.argv[1]); "
        "f = open(sys.argv[2], 'w'); json.dump(report, f); f.close()"
    )
    subprocess.run([sys.executable, "-c", code, work, out], cwd=ROOT,
                   env=env, check=True, timeout=900)
    with open(out) as fh:
        return json.load(fh)


def test_inference_chain_digests(report):
    assert report["chains"] == GOLDEN_CHAINS


def test_every_run_returns_a_posterior_summary(report):
    """Both samplers return the lazy summary row: mean, std and MAP of
    every sampled parameter (the adaptive row adds its own columns)."""
    for label, (cols, pars) in report["summary"].items():
        assert cols >= 3 * pars > 0, (label, cols, pars)
        assert cols == 3 * pars or label == "adaptive", (label, cols, pars)


def test_os_cli_parquet_digests(report):
    assert report["os"] == GOLDEN_OS


def test_residual_frame_is_an_arrow_local_relation(report):
    res = report["residuals"]
    assert res["plan"] == "LocalTableScan", res
    assert res["schema"] == (
        "struct<psr:string,toa_s:double,residual_s:double,toa_err_s:double,"
        "efac:double,equad:double,freq_mhz:double,backend:string,"
        "flags:map<string,string>>"
    )
    assert res["rows"] == INFER_SLOTS[0][0]


def test_single_pulsar_op_spark_shape(report):
    """Warm single-pulsar ops (the residual frame was already built once
    in the session): at most 5 jobs, and the GP kernel is the only Python
    task."""
    shapes = {k: v for k, v in report["shape"].items() if k.startswith("single")}
    for label, (jobs, py_tasks) in shapes.items():
        assert jobs <= 5 and py_tasks == 1, (label, jobs, py_tasks)


def test_sir_resample_with_no_finite_weight_names_the_draw_count():
    import numpy as np
    import pandas as pd

    from enterprise_warp_spark.run_paramfile import _sir_resample

    draws = pd.DataFrame({"x": [1.0, 2.0, 3.0],
                          "lnl": [-np.inf, np.nan, -1e30]})
    with pytest.raises(ValueError, match="none of the 3 scored draws"):
        _sir_resample(draws, "lnl", 10, seed=1)
    draws.loc[1, "lnl"] = -5.0
    assert _sir_resample(draws, "lnl", 4, seed=1)["x"].tolist() == [2.0] * 4
