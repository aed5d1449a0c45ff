"""Traced mode: spans around the package's public functions, read from outside.

`Tracer.install()` replaces each function in `LAYER_FUNCTIONS` on the module
attribute its callers resolve, with a wrapper that records one span (name,
start, end, parent, op id). Spans stay in memory; `Tracer.dump()` writes them
when the run ends. A span around a function that returns a lazy DataFrame
times plan construction only; the action lands in the caller's self time.

`SparkReader` reads two status stores after each op: the SparkContext store
(jobs, stages, tasks, executor time, GC, shuffle, spill) for every job id the
op submitted, and the SQL store (Python worker time and bytes) for every SQL
execution it started. Both are populated with `spark.ui.enabled=false`.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import threading
import time

# (module, attribute, span name). Two entries share a span name where one
# function is resolved through two modules.
LAYER_FUNCTIONS = (
    ("enterprise_warp_spark.run_paramfile", "parse_paramfile", "plans.parse_paramfile"),
    ("enterprise_warp_spark.plans", "parse_paramfile", "plans.parse_paramfile"),
    ("enterprise_warp_spark.sources.tim", "read_tim", "sources.read_tim"),
    ("enterprise_warp_spark.analytics.results_pipeline", "read_run_dir",
     "sources.read_run_dir"),
    ("enterprise_warp_spark.run_paramfile", "run_from_paramfile", "run_paramfile.run"),
    ("enterprise_warp_spark.run_paramfile", "build_standalone_residuals",
     "run_paramfile.residuals"),
    ("enterprise_warp_spark.run_paramfile", "write_chain_dir", "run_paramfile.chain_write"),
    ("enterprise_warp_spark.likelihood.inference", "run_inference",
     "likelihood.run_inference"),
    ("enterprise_warp_spark.likelihood.inference", "sample_priors",
     "likelihood.sample_priors"),
    ("enterprise_warp_spark.likelihood.inference", "gp_loglik_per_pulsar",
     "likelihood.gp_loglik_build"),
    ("enterprise_warp_spark.analytics.results_pipeline", "run_results_pipeline",
     "analytics.results_pipeline"),
    ("enterprise_warp_spark.analytics.chains", "credible_levels_by_par",
     "analytics.credible_levels"),
    ("enterprise_warp_spark.analytics.optimal_statistic", "marginalised_os",
     "analytics.marginalised_os"),
    ("enterprise_warp_spark.sinks", "write_noise_json_files", "sinks.noise_json"),
    ("enterprise_warp_spark.plotting", "make_corner_plot", "plotting.render"),
    ("enterprise_warp_spark.plotting", "make_histogram_grid", "plotting.render"),
    ("enterprise_warp_spark.plotting", "make_chain_trace_grid", "plotting.render"),
    ("enterprise_warp_spark.plotting", "make_os_orf_plot", "plotting.render"),
    ("enterprise_warp_spark.plotting", "make_noisemarg_os_plots", "plotting.render"),
    ("enterprise_warp_spark.results", "main", "results.main"),
)


class Tracer:
    """In-memory span recorder. Spans nest per thread; every span carries
    the id of the op that was running when it started."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> int:
        stack = self._local.__dict__.setdefault("stack", [])
        span = {"name": name, "start": time.perf_counter(), "end": None,
                "parent": stack[-1] if stack else None, "op": self.op_id}
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._local.stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced

    def install(self) -> None:
        for mod_name, attr, span in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self.wrap(orig, span))

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, orig = self._saved.pop()
            setattr(mod, attr, orig)

    def self_times(self, op_ids) -> tuple[dict[str, float], dict[str, int]]:
        """-> ({span name: summed self seconds}, {span name: calls}) over
        the given ops. Self time is a span's duration minus the union of
        its children's intervals."""
        ops = set(op_ids)
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        self_s: dict[str, float] = {}
        calls: dict[str, int] = {}
        for i, s in enumerate(self.spans):
            if s["op"] not in ops or s["end"] is None:
                continue
            dur = s["end"] - s["start"] - covered(kids.get(i, []))
            self_s[s["name"]] = self_s.get(s["name"], 0.0) + dur
            calls[s["name"]] = calls.get(s["name"], 0) + 1
        return self_s, calls

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


def parse_sql_metric(text: str) -> float:
    """'total (min, med, max ...)\\n8.8 KiB (...)' or '7 ms' -> bytes or
    seconds (the total, which is the first value after the header)."""
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _VALUE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


SQL_PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.boot_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}


class SparkReader:
    """Per-op reads of the SparkContext and SQL status stores."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()

    def _sql(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _sql_tail(self, n: int):
        sql = self._sql()
        count = sql.executionsCount()
        n = min(n, count)
        return sql.executionsList(int(count - n), int(n)) if n else None

    def mark(self) -> tuple[int, int]:
        """(next job id, last SQL execution id) before an op starts."""
        tail = self._sql_tail(1)
        last = tail.apply(0).executionId() if tail is not None else -1
        return self.jsc.dagScheduler().numTotalJobs(), last

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def read(self, mark: tuple[int, int], t0_ms: float, t1_ms: float) -> dict:
        """Counters for the jobs and SQL executions started since `mark`.
        t0_ms/t1_ms bound the op on the epoch clock the stores use."""
        self._drain()
        store = self.jsc.statusStore()
        jobs_end = self.jsc.dagScheduler().numTotalJobs()
        out = dict.fromkeys(
            ("spark.jobs", "spark.stages", "spark.stages_skipped", "spark.tasks",
             "spark.failed_tasks", "spark.job_busy_s", "spark.executor_run_s",
             "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_mb",
             "spark.shuffle_write_mb", "spark.spill_mb"), 0.0)
        busy, seen = [], set()
        for job_id in range(mark[0], jobs_end):
            try:
                jd = store.job(job_id)
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            out["spark.jobs"] += 1
            sub = jd.submissionTime()
            done = jd.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1_ms
                busy.append((max(sub.get().getTime(), t0_ms), min(end, t1_ms)))
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — evicted from the store
                    continue
                if str(sd.status()) == "SKIPPED":
                    out["spark.stages_skipped"] += 1
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["spark.failed_tasks"] += sd.numFailedTasks()
                out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["spark.gc_s"] += sd.jvmGcTime() / 1e3
                out["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                out["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["spark.spill_mb"] += sd.diskBytesSpilled() / 2**20
        out["spark.job_busy_s"] = covered([b for b in busy if b[1] > b[0]]) / 1e3
        out["spark.driver_gap_s"] = max(
            0.0, (t1_ms - t0_ms) / 1e3 - out["spark.job_busy_s"]
        )
        out.update(self._python_metrics(mark[1]))
        return out

    def _python_metrics(self, last_exec: int) -> dict:
        out = {"python.run_s": 0.0, "python.boot_s": 0.0,
               "python.sent_mb": 0.0, "python.recv_mb": 0.0}
        # the store keeps a bounded number of executions, so read from the
        # newest backwards until the op's first execution is covered
        n = 64
        while True:
            tail = self._sql_tail(n)
            if tail is None:
                return out
            execs = [tail.apply(i) for i in range(tail.size())]
            if execs[0].executionId() <= last_exec or len(execs) < n:
                break
            n *= 4
        sql = self._sql()
        for ex in execs:
            if ex.executionId() <= last_exec:
                continue
            wanted = {}
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = SQL_PYTHON_METRICS.get(m.name())
                if key:
                    wanted[m.accumulatorId()] = key
            if not wanted:
                continue
            values = sql.executionMetrics(ex.executionId())
            for acc, key in wanted.items():
                v = values.get(acc)
                if v.isDefined():
                    x = parse_sql_metric(v.get())
                    out[key] += x / 2**20 if key.endswith("_mb") else x
        return out
