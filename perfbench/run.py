#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the PTA user path and the catalog.

    python3 perfbench/run.py --workload pta_infer --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Each workload is a closed loop with one
client in one warm session on local[<cores>]:

  pta      one op = run_paramfile.main for one pulsar of a seeded array, or
           one results.main command over seeded run dirs
  catalog  one op = one catalog entry, collected and oracle-checked

Set-up is get_spark plus the workload's warm-up op, done three times (the
first starts the JVM, the next two stop the session and start a new one in
it); setup_s is their median. Then whole passes over the workload's op list
run until --seconds is used up (at least one). Each op's output is checked
after its clock stops.

--trace 0 prints the end-to-end metrics. --trace 1 runs two untraced passes
(a warm pass and a baseline), then traced passes with spans around the
package's public functions and per-op reads of Spark's status stores, and
prints the per-layer metrics, including the tracing overhead against the
baseline pass.

The last stdout line is one JSON object: correct, attempted, failed, metrics.
The line before it carries host steal and load at the start and end of the
run and the error rate. A record of every op (and every span) is written to
.perfbench_out/ in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "1g"
SETUPS = 3

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "cpu_s": "s",
    "peak_rss_mb": "MiB",
}

# span name -> (seconds metric, calls metric or None); self time is reported
SPAN_METRICS = {
    "plans.parse_paramfile": ("plans.parse_paramfile_s", None),
    "sources.read_tim": ("sources.read_tim_s", "sources.read_tim_calls"),
    "sources.read_run_dir": ("sources.read_run_dir_s", "sources.read_run_dir_calls"),
    "run_paramfile.residuals": ("run_paramfile.residuals_s",
                                "run_paramfile.residuals_calls"),
    "run_paramfile.chain_write": ("run_paramfile.chain_write_s", None),
    "run_paramfile.run": ("run_paramfile.self_s", None),
    "likelihood.run_inference": ("likelihood.run_inference_s", None),
    "likelihood.sample_priors": ("likelihood.sample_priors_s", None),
    "likelihood.gp_loglik_build": ("likelihood.gp_loglik_build_s", None),
    "analytics.results_pipeline": ("analytics.results_pipeline_s", None),
    "analytics.credible_levels": ("analytics.credible_levels_s", None),
    "analytics.marginalised_os": ("analytics.marginalised_os_s", None),
    "sinks.noise_json": ("sinks.noise_json_s", None),
    "plotting.render": ("plotting.render_s", None),
    "results.main": ("results.self_s", None),
    "queries.build": ("queries.build_s", None),
    "queries.action": ("queries.action_s", None),
    "op": ("unattributed_s", None),
}

SPARK_METRICS = (
    "spark.jobs", "spark.stages", "spark.stages_skipped", "spark.tasks",
    "spark.failed_tasks", "spark.job_busy_s", "spark.driver_gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "python.run_s", "python.boot_s", "python.sent_mb", "python.recv_mb",
)


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_s"):
        return "s"
    if name in ("queries.build_share", "host.load1"):
        return "ratio"
    return "count"


PER_LAYER = (
    ["session.start_s", "session.warmup_s", "session.jvm_peak_rss_mb"]
    + [m for pair in SPAN_METRICS.values() for m in pair if m]
    + ["queries.build_jobs", "queries.build_share", "sinks.bytes_written_mb"]
    + list(SPARK_METRICS)
    + ["python.worker_peak_rss_mb", "cpu.driver_s", "cpu.jvm_s", "cpu.pyworker_s",
       "host.steal_s", "host.load1", "trace.overhead_wall_s", "trace.overhead_cpu_s"]
)


def spark_conf(work: str) -> dict:
    """The confs the benchmark adds to get_spark: no console progress bar,
    and JVM temp files (native-library copies, artifacts, perf data) kept
    inside the run's work dir."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


def pin_env(work: str) -> None:
    """The run environment every run gets, whatever the caller's shell has."""
    for key in [k for k in os.environ if k.startswith("EWS_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # Python's tempfile
    # Python workers import the package and the bench extras from the root
    os.environ["PYTHONPATH"] = ROOT
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Ctx:
    """What an op sees: the session, plus span and counter hooks that cost
    nothing when tracing is off."""

    def __init__(self, spark, tracer=None, reader=None) -> None:
        self.spark = spark
        self.tracer = tracer
        self.reader = reader
        self.counters: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if self.tracer is None:
            yield
            return
        idx = self.tracer.begin(name)
        try:
            yield
        finally:
            self.tracer.end(idx)

    def jobs_now(self) -> int:
        return self.reader.jsc.dagScheduler().numTotalJobs() if self.reader else 0

    def count(self, name: str, n: float) -> None:
        if self.tracer is not None:
            self.counters[name] = self.counters.get(name, 0.0) + n


def _bytes_since(root: str | None, t0: float) -> int:
    total = 0
    if root and os.path.isdir(root):
        for d, _, files in os.walk(root):
            for f in files:
                st = os.stat(os.path.join(d, f))
                if st.st_mtime >= t0:
                    total += st.st_size
    return total


def run_op(ctx: Ctx, op, op_id: int) -> dict:
    from perfbench import procs
    from perfbench.workloads import CheckFailed

    if op.prepare:
        op.prepare()
    rec = {"id": op_id, "label": op.label, "ok": True, "error": None}
    if ctx.tracer is not None:
        ctx.counters = {}
        ctx.tracer.op_id = op_id
        ctx.spark.sparkContext.setJobGroup(f"op-{op_id}", op.label)
        mark = ctx.reader.mark()
    cpu0 = procs.tree_cpu()
    e0 = time.time()
    t0 = time.perf_counter()
    result = None
    try:
        with contextlib.redirect_stdout(sys.stderr), ctx.span("op"):
            result = op.run(ctx)
    except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
        rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:500])
    rec["wall_s"] = time.perf_counter() - t0
    e1 = time.time()
    cpu1 = procs.tree_cpu()
    rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
    if rec["ok"]:
        try:
            op.check(result)
        except CheckFailed as exc:
            rec.update(ok=False, error=f"check: {exc}"[:500])
    if ctx.tracer is not None:
        rec["layer"] = ctx.reader.read(mark, e0 * 1e3, e1 * 1e3)
        rec["layer"].update(ctx.counters)
        rec["layer"]["sinks.bytes_written_mb"] = _bytes_since(op.out_dir, e0) / 2**20
        rec["layer"]["python.worker_peak_rss_mb"] = procs.peak_rss_by_class()["pyworker"]
        ctx.tracer.op_id = None
    if not rec["ok"]:
        print(f"# op {op.label} failed: {rec['error']}", file=sys.stderr)
    return rec


def _cpu_total(rec: dict) -> float:
    return sum(rec["cpu"].values())


def _pass_sum(recs: list[dict], fn) -> float:
    return sum(fn(r) for r in recs)


def end_to_end(setups: list[float], passes: list[list[dict]], peak: dict) -> dict:
    walls = [r["wall_s"] for p in passes for r in p]
    return {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(_pass_sum(p, lambda r: r["wall_s"]) for p in passes),
        "op_p50_s": statistics.median(walls),
        "cpu_s": statistics.median(_pass_sum(p, _cpu_total) for p in passes),
        "peak_rss_mb": peak["driver"] + peak["jvm"],
    }


def per_layer(tracer, traced: list[list[dict]], base: list[dict], session: dict,
              host: tuple[dict, dict]) -> dict:
    per_pass = []
    for recs in traced:
        m = dict.fromkeys(PER_LAYER, 0.0)
        self_s, calls = tracer.self_times(r["id"] for r in recs)
        for span, (sec, cnt) in SPAN_METRICS.items():
            m[sec] = self_s.get(span, 0.0)
            if cnt:
                m[cnt] = calls.get(span, 0)
        for r in recs:
            for k, v in r["layer"].items():
                if k == "python.worker_peak_rss_mb":
                    m[k] = max(m[k], v)
                else:
                    m[k] += v
            m["cpu.driver_s"] += r["cpu"]["driver"]
            m["cpu.jvm_s"] += r["cpu"]["jvm"]
            m["cpu.pyworker_s"] += r["cpu"]["pyworker"]
        done = m["queries.build_s"] + m["queries.action_s"]
        m["queries.build_share"] = m["queries.build_s"] / done if done else 0.0
        m["trace.overhead_wall_s"] = (_pass_sum(recs, lambda r: r["wall_s"])
                                      - _pass_sum(base, lambda r: r["wall_s"]))
        m["trace.overhead_cpu_s"] = (_pass_sum(recs, _cpu_total)
                                     - _pass_sum(base, _cpu_total))
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in PER_LAYER}
    out.update(session)
    out["host.steal_s"] = host[1]["steal_s"] - host[0]["steal_s"]
    out["host.load1"] = (host[0]["load1"] + host[1]["load1"]) / 2
    return out


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — never leave it running
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool,
        sizes: dict | None = None) -> dict:
    """One benchmark run -> the final-line dict. `sizes` overrides the
    workload's input sizes (keyword arguments of its constructor)."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    pin_env(work)

    import enterprise_warp_spark  # noqa: F401 — the program under test must exist

    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    from perfbench import procs
    from perfbench.spans import SparkReader, Tracer
    from perfbench.workloads import WORKLOADS
    from enterprise_warp_spark.session import get_spark

    spark = None
    try:
        wl = WORKLOADS[workload](work, seed, **(sizes or {}))  # before any clock
        host0 = procs.host_state()

        setups, setup_recs, session = [], [], {}
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", extra_conf=spark_conf(work))
            spark.sparkContext.setLogLevel("ERROR")
            t_session = time.perf_counter() - t0
            rec = run_op(Ctx(spark), wl.warmup(), -1 - k)
            setups.append(t_session + rec["wall_s"])
            setup_recs.append(rec)
            if k == 0:
                session = {"session.start_s": t_session,
                           "session.warmup_s": rec["wall_s"]}

        # trace mode: a warm pass and a baseline pass untraced, then traced
        # passes; the baseline sits at the same warmth as the traced ones
        untraced_needed = 2 if trace else 1
        ctx = Ctx(spark)
        passes: list[list[dict]] = []
        traced: list[list[dict]] = []
        tracer = None
        next_id = 0
        t_start = time.perf_counter()
        while True:
            recs = []
            for op in wl.ops():
                recs.append(run_op(ctx, op, next_id))
                next_id += 1
            (traced if tracer else passes).append(recs)
            if trace and tracer is None and len(passes) == untraced_needed:
                tracer = Tracer()
                tracer.install()
                ctx = Ctx(spark, tracer, SparkReader(spark))
                t_start = time.perf_counter()
                continue
            done = traced if trace else passes
            elapsed = time.perf_counter() - t_start
            if done and elapsed * (len(done) + 1) / len(done) > seconds:
                break
        if tracer is not None:
            tracer.uninstall()

        peak = procs.peak_rss_by_class()
        host1 = procs.host_state()
        all_recs = setup_recs + [r for p in passes + traced for r in p]
        failed = sum(not r["ok"] for r in all_recs)
        if trace:
            session["session.jvm_peak_rss_mb"] = peak["jvm"]
            metrics = per_layer(tracer, traced, passes[-1], session, (host0, host1))
        else:
            metrics = end_to_end(setups, passes, peak)
        record = {"workload": workload, "seed": seed, "seconds": seconds,
                  "trace": trace, "setups": setups, "host": [host0, host1],
                  "peak_rss_mb": peak,
                  "ops": all_recs, "metrics": metrics}
        name = f"{workload}-seed{seed}-trace{int(trace)}.json"
        if tracer is not None:
            tracer.dump(os.path.join(out_dir, name), record)
        else:
            with open(os.path.join(out_dir, name), "w") as fh:
                json.dump(record, fh)
        print(json.dumps({"host": {"start": host0, "end": host1},
                          "error_rate": failed / len(all_recs),
                          "ops_timed": len(all_recs) - len(setup_recs),
                          "passes": len(passes) + len(traced)}))
        units = dict(END_TO_END, **{k: _unit(k) for k in PER_LAYER})
        return {
            "correct": failed == 0,
            "attempted": len(all_recs),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("pta", "catalog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    opts = ap.parse_args(argv)
    result = run(opts.workload, opts.seed, opts.seconds, bool(opts.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # run as a script, sys.path[0] is this directory; import from the root
    # instead so no module here can shadow one of the standard library's
    sys.path[0] = ROOT
    sys.exit(main())
