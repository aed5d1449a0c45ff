"""Inference and optimal-statistic CLI golden outputs, and the Spark shape
of inference ops.

Inputs come from `perfbench.inputs` (three pulsars with 1, 3 and 2
backends for `run_paramfile`, and seven 60-TOA pulsars for a wider array
run; the four seeded run dirs of `make_results_inputs` for the OS
command). The commands run in a child process on `local[4]` with the
CLI's own session settings.

- `run_paramfile` for each pulsar, two `--drop 1` array runs and one
  `sampler: adaptive` run must write `chain_1.txt` and `pars.txt` with the
  recorded sha256s.
- One single-pulsar run, the three-pulsar `--drop 1` run and the
  adaptive run write the same chains at local[2], local[8] and at
  local[4] with adaptive partition coalescing off: the draws and the sum
  over pulsars depend on the inputs and the seed only.
- `results -o 1 -N 50 -g hd` must write `os`, `binned` and `marginalised`
  parquet whose rows, normalised as in `tests/oracle.py`, hash to the
  recorded digests (`perfbench.workloads.frame_digest`), and leave the
  session holding no more persisted RDDs than before it. `results -o 1
  -L 1 -g hd` then loads frames with the same digests.
- The residual frame is an Arrow-built local relation, a warm
  single-pulsar op launches at most 3 Spark jobs and one Python task, and
  array runs over 2 and 6 pulsars launch the same number of jobs, with
  one kernel task per pulsar up to the width.
- Every run returns its posterior summary row.

The OS digests were recorded before the residual frame was built through
Arrow; the chain digests when the prior draws moved to the driver, the
adaptive chain's when its proposal rounds did.
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
# the array-shape check's second data directory: 7 pulsars, --drop 1
WIDE_SLOTS = ((60, 2),) * 7
INFER_SEED = 1207
RESULTS_SEED = 1208
ADAPTIVE_NSAMP = 64

GOLDEN_CHAINS = {
    "single_0": {
        "chain_1.txt":
            "c90b8fb59d1fd6d293fac32604cd8bceb135f07046bbaea71a087d5a9cba665d",
        "pars.txt":
            "4175b53794b5b4d8f16b77f8e75662f1c5a328e4da048b04de2522a9bf237a2b",
    },
    "single_1": {
        "chain_1.txt":
            "100ab7f3a2e767345483adb3c101d2b2d56ec681c75503e3fbaf69543b70a772",
        "pars.txt":
            "78e3c3ca3dbf16736bc18fd6ec3ebd97bd6f78ecf7a3569599686abc508a21ab",
    },
    "single_2": {
        "chain_1.txt":
            "9ba871ef9dbe380cfc137693228b8f75b14a0405014d0ba6818ff6b66326c5ed",
        "pars.txt":
            "020453837ade0fdbe5a14c1bb23720edcff2a954a3459f8c9c9212c1bd1bc9e1",
    },
    "drop": {
        "chain_1.txt":
            "690a8e4fa3a67347854e99b6640aabcdb562383a7678f58bf33d0eeea7a5b90f",
        "pars.txt":
            "27b107cc11a2fa051369c39878cdf7a2c9b1b4d07012115871cbb5bf4d891e9d",
    },
    "drop_wide": {
        "chain_1.txt":
            "98edd33d236dbb3b5b134f920f0e6000507b2162aeca36822d4bbaf57a36b65c",
        "pars.txt":
            "d0d4d12bb61899b878f321b950b0e257036a8d79d356705173d3ca7e3e69689a",
    },
    "adaptive": {
        "chain_1.txt":
            "8175dd594acd9cbdc68395f557d83eedbc1af513aa7baf886f1c136d7fe09029",
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
# the operator of the GP kernel's stage
KERNEL_MARK = "FlatMapGroupsInPandas"


def _sha(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _stage_tasks(spark, job_ids):
    """-> (tasks of the given jobs' stages that run Python code, tasks of
    the stages that run the GP kernel)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    py, kernel, seen = 0, 0, set()
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
                py += sd.numCompleteTasks()
            if any(KERNEL_MARK in name for name in names):
                kernel += sd.numCompleteTasks()
    return py, kernel


def spark_shape(spark, group, fn):
    """-> (fn's result, Spark jobs it launched, Python tasks in them,
    tasks of the GP kernel's stage)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    return (out, len(jobs), *_stage_tasks(spark, jobs))


def _child(work, labels=None, conf=None):
    """Run the golden commands in this process; -> report dict. labels:
    run only these inference commands (no residual probe, no OS command).
    conf: extra session settings."""
    from enterprise_warp_spark import results, run_paramfile
    from enterprise_warp_spark.session import get_spark
    from perfbench.inputs import make_infer_inputs, make_results_inputs
    from perfbench.workloads import frame_digest

    spark = get_spark(
        "infer-golden",
        extra_conf={"spark.ui.showConsoleProgress": "false", **(conf or {})},
    )
    spark.sparkContext.setLogLevel("ERROR")
    report = {"chains": {}, "shape": {}, "summary": {}, "os": {}, "ess": {}}
    try:
        prfile, warm, _ = make_infer_inputs(
            os.path.join(work, "infer"), INFER_SEED, slots=INFER_SLOTS
        )
        pairs = run_paramfile.paired_data_files(
            os.path.join(work, "infer", "data")
        )
        if labels is None:
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
            if labels is not None and label not in labels:
                return
            out, jobs, py_tasks, kernel_tasks = spark_shape(
                spark, f"golden-{label}",
                lambda: run_paramfile.main(argv, spark=spark),
            )
            d = out["output_dir"]
            report["chains"][label] = {
                f: _sha(os.path.join(d, f)) for f in ("chain_1.txt", "pars.txt")
            }
            report["shape"][label] = [jobs, py_tasks, kernel_tasks]
            report["ess"][label] = out.get("ess")
            report["summary"][label] = [len(out["summary"].columns),
                                        len(out["pars"])]

        for num in range(len(pairs)):
            record(f"single_{num}", ["--prfile", prfile, "--num", str(num)])
        if labels is None:
            info = results.main(["--result", prfile, "--info", "1"],
                                spark=spark)
            report["sampler_info"] = info.get("sampler_info")
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
        if labels is not None:
            return report
        wide, _, _ = make_infer_inputs(
            os.path.join(work, "wide"), INFER_SEED, slots=WIDE_SLOTS
        )
        record("drop_wide", ["--prfile", wide, "--num", "0", "--drop", "1"])
        report["width"] = spark.sparkContext.defaultParallelism

        rprfile, _, _ = make_results_inputs(
            os.path.join(work, "results"), RESULTS_SEED
        )
        cached = spark.sparkContext._jsc.getPersistentRDDs
        before = cached().size()
        results.main(
            ["--result", rprfile, "-o", "1", "-N", "50", "-g", "hd"],
            spark=spark,
        )
        report["os_cached"] = [before, cached().size()]
        dest = os.path.join(work, "results", "out", "demo_1_bench",
                            "os_results", "hd")
        for part in ("os", "binned", "marginalised"):
            pdf = spark.read.parquet(os.path.join(dest, part)).toPandas()
            report["os"][part] = list(frame_digest(pdf))
        loaded = results.main(
            ["--result", rprfile, "-o", "1", "-L", "1", "-g", "hd"],
            spark=spark,
        )["os"]["hd"]
        report["os_loaded"] = {
            part: list(frame_digest(frame.toPandas()))
            for part, frame in loaded.items()
        }
    finally:
        spark.stop()
    return report


def _run_child(work, cpus, labels=None, conf=None):
    """`_child` in a fresh process on local[cpus] -> its report."""
    out = os.path.join(work, "report.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), PYTHONPATH=ROOT,
               PYSPARK_PYTHON=sys.executable)
    code = (
        "import json, sys; from tests.test_infer_golden import _child; "
        "report = _child(sys.argv[1], *json.loads(sys.argv[3])); "
        "f = open(sys.argv[2], 'w'); json.dump(report, f); f.close()"
    )
    subprocess.run([sys.executable, "-c", code, work, out,
                    json.dumps([labels, conf])],
                   cwd=ROOT, env=env, check=True, timeout=900)
    with open(out) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def report(tmp_path_factory):
    return _run_child(str(tmp_path_factory.mktemp("golden")), 4)


def test_inference_chain_digests(report):
    assert report["chains"] == GOLDEN_CHAINS


# other widths, and adaptive coalescing off: (cores, extra session conf)
OTHER_SESSIONS = {
    "local2": (2, None),
    "local8": (8, None),
    "local4_no_coalesce": (
        4, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    ),
}


@pytest.mark.parametrize("session", sorted(OTHER_SESSIONS))
def test_chains_do_not_depend_on_the_session(tmp_path, session):
    """A single-pulsar, an array and an adaptive run write the local[4]
    chains at other widths and with coalescing off: draws, scores and sums
    follow the inputs and the seed only."""
    cpus, conf = OTHER_SESSIONS[session]
    labels = ["single_1", "drop", "adaptive"]
    got = _run_child(str(tmp_path), cpus, labels, conf)["chains"]
    assert got == {k: GOLDEN_CHAINS[k] for k in labels}


def test_every_run_returns_a_posterior_summary(report):
    """Both samplers return the lazy summary row: mean, std and MAP of
    every sampled parameter (the adaptive row adds its own columns)."""
    for label, (cols, pars) in report["summary"].items():
        assert cols >= 3 * pars > 0, (label, cols, pars)
        assert cols == 3 * pars or label == "adaptive", (label, cols, pars)


def test_os_cli_parquet_digests(report):
    assert report["os"] == GOLDEN_OS


def test_os_cli_leaves_no_cached_frames(report):
    """The OS command unpersists what it cached: a long-lived session
    holds as many persisted RDDs after it as before."""
    before, after = report["os_cached"]
    assert after == before


def test_os_cli_load_reads_the_saved_frames(report):
    """`-o 1 -L 1` returns the frames the `-o 1` run saved."""
    assert report["os_loaded"] == GOLDEN_OS


def test_residual_frame_is_an_arrow_local_relation(report):
    res = report["residuals"]
    assert res["plan"] == "LocalTableScan", res
    assert res["schema"] == (
        "struct<psr:string,toa_s:double,residual_s:double,toa_err_s:double,"
        "efac:double,equad:double,freq_mhz:double,toa_idx:bigint,"
        "backend:string,flags:map<string,string>>"
    )
    assert res["rows"] == INFER_SLOTS[0][0]


def test_single_pulsar_op_spark_shape(report):
    """Warm single-pulsar ops (the residual frame was already built once
    in the session): at most 3 jobs, and the GP kernel is the only Python
    task."""
    shapes = {k: v for k, v in report["shape"].items() if k.startswith("single")}
    for label, (jobs, py_tasks, _) in shapes.items():
        assert jobs <= 3 and py_tasks == 1, (label, jobs, py_tasks)


def test_array_op_jobs_do_not_grow_with_pulsars(report):
    """`--drop 1` over 2 and over 6 pulsars: the same job count, and the
    kernel stage runs one task per pulsar up to the width."""
    width = report["width"]
    (jobs2, _, kernel2) = report["shape"]["drop"]
    (jobs6, _, kernel6) = report["shape"]["drop_wide"]
    assert jobs2 == jobs6, report["shape"]
    assert kernel2 == min(len(INFER_SLOTS) - 1, width)
    assert kernel6 == min(len(WIDE_SLOTS) - 1, width)


def test_default_sampler_reports_ess_in_the_run_dir(report):
    """Each single-pulsar run writes sampler_info.json (ESS of the SIR
    weights, scored draws, distinct chain rows), and `results -i` lists
    it with the ESS the CLI printed."""
    info = report["sampler_info"]
    assert len(info) == len(INFER_SLOTS), info
    for rid, doc in info.items():
        label = f"single_{rid.split('_')[0]}"
        assert doc["ess"] == report["ess"][label] >= 1.0, (rid, doc)
        assert doc["n_draws"] == 400
        assert 1 <= doc["distinct_rows"] <= doc["n_draws"], (rid, doc)


def test_sir_resample_reports_the_weights_ess():
    """One dominant weight gives ESS ~1, equal weights give n."""
    import numpy as np
    import pandas as pd

    from enterprise_warp_spark.run_paramfile import _sir_resample

    draws = pd.DataFrame({"x": np.arange(50.0), "lnl": np.zeros(50)})
    assert _sir_resample(draws, "lnl", 10, seed=1)[1] == pytest.approx(50.0)
    draws.loc[7, "lnl"] = 100.0
    chain, ess = _sir_resample(draws, "lnl", 10, seed=1)
    assert ess == pytest.approx(1.0, abs=1e-12)
    assert chain["x"].tolist() == [7.0] * 10


def test_sir_resample_with_no_finite_weight_names_the_draw_count():
    import numpy as np
    import pandas as pd

    from enterprise_warp_spark.run_paramfile import _sir_resample

    draws = pd.DataFrame({"x": [1.0, 2.0, 3.0],
                          "lnl": [-np.inf, np.nan, -1e30]})
    with pytest.raises(ValueError, match="none of the 3 scored draws"):
        _sir_resample(draws, "lnl", 10, seed=1)
    draws.loc[1, "lnl"] = -5.0
    assert _sir_resample(draws, "lnl", 4, seed=1)[0]["x"].tolist() == [2.0] * 4
