"""queries.run_branches: the one branch executor behind every union gate.

A synthetic two-branch gate on spark.range (no catalog query) keeps this
in the default gate: one branch fails while its sibling runs a job that
only cancellation can end."""

import threading
import time

import pytest

from enterprise_warp_spark.queries import run_branches


def _tags_of_jobs_since(sc, first_job: int) -> list[set[str]]:
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for job_id in range(first_job, jsc.dagScheduler().numTotalJobs()):
        tags = store.job(job_id).jobTags()
        out.append({tags.apply(i) for i in range(tags.size())})
    return out


def _gate_tag(tags: set[str]) -> str:
    (tag,) = [t for t in tags if t.startswith("ews-gate:fault_gate:")]
    return tag


def test_failing_branch_cancels_siblings_and_raises_first_error(spark):
    sc = spark.sparkContext
    threads_before = threading.active_count()
    first_job = sc._jsc.sc().dagScheduler().numTotalJobs()

    def long_job(_):
        # hours of work at local scale: only a cancellation ends it
        return spark.range(0, 10**13, numPartitions=2).selectExpr(
            "max(id)"
        ).collect()

    def fail_once_sibling_runs(_):
        deadline = time.monotonic() + 60
        while not sc.statusTracker().getActiveJobsIds():
            assert time.monotonic() < deadline, "sibling job never started"
            time.sleep(0.05)
        raise ValueError("injected branch failure")

    # if the executor failed to cancel, the long job would run for hours:
    # a backstop cancels everything so the test fails instead of hanging
    fired = threading.Event()

    def cancel_all():
        fired.set()
        sc.cancelAllJobs()

    backstop = threading.Timer(120, cancel_all)
    backstop.start()
    try:
        with pytest.raises(ValueError, match="injected branch failure"):
            run_branches(
                spark, "fault_gate",
                {"long": long_job, "fail": fail_once_sibling_runs},
            )
    finally:
        backstop.cancel()
        backstop.join(timeout=10)
    assert not backstop.is_alive()
    assert not fired.is_set(), "the executor left the sibling job running"

    jobs = _tags_of_jobs_since(sc, first_job)
    assert sc.statusTracker().getActiveJobsIds() == []
    assert threading.active_count() == threads_before
    assert jobs, "the long branch ran no job"
    for tags in jobs:
        assert "ews-branch:fault_gate:long" in tags
    (run_tag,) = {_gate_tag(tags) for tags in jobs}

    # the session is left usable: an immediate re-run succeeds, each call
    # under its own gate-run tag
    again = sc._jsc.sc().dagScheduler().numTotalJobs()
    assert run_branches(spark, "fault_gate", {
        "count": lambda _: spark.range(10).count(),
        "plain": lambda _: "no job",
    }) == [10, "no job"]
    rerun = _tags_of_jobs_since(sc, again)
    assert rerun and all("ews-branch:fault_gate:count" in t for t in rerun)
    assert run_tag not in {_gate_tag(t) for t in rerun}


def test_branches_keep_union_order_and_read_shared_inputs(spark):
    """Branches come back in declaration order whatever order they finish
    in, and a shared input may read an earlier one."""
    def slow_first(inp):
        time.sleep(0.3)
        return ("a", inp["x"])

    assert run_branches(
        spark, "order_gate",
        {"a": slow_first, "b": lambda inp: ("b", inp["y"])},
        shared={"x": lambda _: 1, "y": lambda inp: inp["x"] + 1},
    ) == [("a", 1), ("b", 2)]
