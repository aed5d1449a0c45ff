#!/usr/bin/env python
"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (collect-less: count() forces the full
plan including sinks' aggregates) and timed wall-clock. A warmup pass of one
tiny query amortizes JVM/codegen startup out of the numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time


def reprobe_worst(
    spark, sf_dir: str, registry, worst_queries, summary: dict, n_probes: int = 5,
    extra_runners: dict | None = None,
) -> dict:
    """Self-adjudication (r9): re-time the given queries ISOLATED (after the
    sweep), median-of-n each, so a judge or the driver can tell a contended
    window from a real regression without a manual solo re-run. Writes
    summary['reprobe'] = {query: median_sec}; any failure is swallowed into
    summary['reprobe_error'] instead — the guaranteed final summary line
    (the one the driver's stdout tail always captures) must never be lost
    to a transient reprobe error. The x_-prefixed extras are reprobe-able
    through extra_runners (r14 verdict #5: x_importance_wave was flagged
    11.16x in-sweep and nothing could re-adjudicate it)."""
    import statistics

    extra_runners = extra_runners or {}
    reprobe: dict[str, float] = {}
    try:
        for q in worst_queries:
            if q not in registry and q not in extra_runners:
                reprobe[q] = -1.0
                continue
            probes: list[float] = []
            for _ in range(n_probes):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                if q in registry:
                    registry[q].spark(spark, sf_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                else:
                    extra_runners[q](spark, sf_dir)
                probes.append(time.perf_counter() - t0)
            reprobe[q] = round(statistics.median(probes), 4)
            print(
                f"# reprobe {q}: median {reprobe[q]:.3f}s "
                f"(reps {[round(p, 3) for p in probes]})",
                file=sys.stderr,
            )
        summary["reprobe"] = reprobe
    except Exception as ex:  # noqa: BLE001 — summary must still print
        summary["reprobe"] = reprobe  # keep whatever completed
        summary["reprobe_error"] = f"{type(ex).__name__}"
    return summary


# x_importance_wave pin (r13 verdict #8): one defensive-mixture importance
# wave on the toy Gaussian target (test_importance_posterior's fixture
# shape), fixed seed — the estimator is partition-seeded, so the evidence
# VALUE is a constant; the analytic answer is ln((sqrt(2pi)*1 *
# sqrt(2pi)*0.5) / 400) = -4.8465. A drift in the value means the sampling
# columns or weight algebra changed, not noise.
X_IMPORTANCE_LOGZ_PIN = -4.850992372310326
X_IMPORTANCE_LOGZ_TOL = 1e-6


def _run_x_importance_wave(spark, sf_dir: str) -> float:
    """One seed-pinned importance wave -> log_evidence (value pinned)."""
    from pyspark.sql import functions as F

    from enterprise_warp_spark.likelihood.sampling import (
        Prior,
        importance_posterior,
        log_evidence,
    )

    priors = [
        Prior("x", "uniform", -10.0, 10.0),
        Prior("y", "uniform", -10.0, 10.0),
    ]

    def score(df):
        return df.select(
            "sample_id",
            (
                -0.5 * (F.col("x") - 1.0) ** 2
                - 0.5 * ((F.col("y") + 2.0) / 0.5) ** 2
            ).alias("lnl"),
        )

    pooled = importance_posterior(
        spark, priors, score,
        centers={"x": 1.0, "y": -2.0}, scales={"x": 1.0, "y": 0.5},
        n=8192, seed=17, waves=1,
    )
    return log_evidence(pooled)


def _run_x_marginalised_os_1000(spark, sf_dir: str) -> None:
    """A12 noise-marginalised OS over 1000 posterior draws — the draws x
    pairs fan-out whose per-(pair,draw) Python loop was vectorized into one
    einsum per pair; tracks that the 1000-draw pass stays ~the per-pair
    kernel cost."""
    import pandas as pd

    from enterprise_warp_spark.analytics.optimal_statistic import (
        marginalised_moments,
        marginalised_os,
        per_pulsar_reduction,
    )
    from enterprise_warp_spark.queries_kernel import _synthetic_residuals

    res = _synthetic_residuals(spark, sf_dir)
    tspan = 300_000.0 * 1_000_000
    red = per_pulsar_reduction(res, nfreqs=6, tspan_s=tspan)
    positions = spark.createDataFrame(
        pd.DataFrame(
            {
                "psr": ["J0", "J1", "J2"],
                "pos": [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]],
            }
        )
    )
    draws = pd.DataFrame(
        {"draw_id": range(1000), "gamma": [3.0 + (i % 40) * 0.05 for i in range(1000)]}
    )
    marginalised_moments(
        marginalised_os(red, positions, draws, tspan_s=tspan)
    ).write.format("noop").mode("overwrite").save()


def _run_x_bpe_train_encode(spark, sf_dir: str) -> None:
    """Full BPE tokenizer cycle over the documents table — lossless
    pre-tokenize + word-count shuffle, 512-merge driver train, distributed
    memoized encode. Tracks the corpus-tokenization throughput the training
    pipeline pays per epoch."""
    from enterprise_warp_spark.pipeline.tokenizer import (
        encode_corpus,
        train_bpe,
        word_counts,
    )
    from enterprise_warp_spark.tables import table as _table

    _docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    _tok = train_bpe(word_counts(_docs), vocab_size=256 + 512)
    encode_corpus(_docs, _tok).write.format("noop").mode("overwrite").save()


def _run_x_cdc_chunk_dedup(spark, sf_dir: str) -> None:
    """CDC binary dedup over payloads derived from the documents table
    (repeated text -> real shared chunks): map-only gear-hash chunking +
    the capped pair join + savings aggregate. The chunk table is
    materialized once INSIDE the timed region (r14): the pair join and the
    savings aggregate both consume it — the composition a real pipeline
    runs, not a cross-run cache."""
    from pyspark.sql import functions as F

    from enterprise_warp_spark.pipeline.cdc import (
        cdc_chunks,
        chunk_dedup_pairs,
        chunk_savings,
    )
    from enterprise_warp_spark.tables import table as _table

    media = (
        _table(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode(
                F.concat("text", F.reverse("text"), "text"), "utf-8"
            ).alias("payload"),
        )
    )
    ch = cdc_chunks(media).localCheckpoint(eager=True)
    chunk_dedup_pairs(ch, min_shared=2).write.format("noop").mode(
        "overwrite"
    ).save()
    chunk_savings(ch).write.format("noop").mode("overwrite").save()


# the x_-prefixed bench-only extras, as (spark, sf_dir) closures so the
# post-sweep isolated reprobe can re-adjudicate them like registry gates
# (r14 verdict #5: x_importance_wave flagged 11.16x, reprobe returned -1.0)
X_RUNNERS = {
    "x_marginalised_os_1000": _run_x_marginalised_os_1000,
    "x_bpe_train_encode": _run_x_bpe_train_encode,
    "x_cdc_chunk_dedup": _run_x_cdc_chunk_dedup,
    "x_importance_wave": _run_x_importance_wave,
}


def compact_final_summary(summary: dict, limit: int = 1800) -> str:
    """Serialize the bench summary to the ONE final stdout line, enforcing
    the driver-contract length bound (r13 verdict #1: the driver keeps only
    a 2000-char stdout tail; r13's final line overflowed it by embedding
    all 52 sf1 per-query times and the whole artifact parsed as null).
    The line MUST carry the per-query medians (r14 verdict #1: two rounds
    of aggregate-only final lines left PERF with n_common=0) — compact JSON
    separators plus 2-decimal rounding keep 54 entries ≈ 1.2 KB. Over-limit
    summaries shed the bulkiest optional fields in a stated priority order;
    "queries"/"value"/"sf" are never shed — if the headline fields alone
    still overflow, raise, because a silent truncation upstream is exactly
    the failure this guards. Operates on a copy: the caller's dict keeps
    every field."""
    summary = dict(summary)
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) <= limit:
        return line
    for victim in (
        "sf1_recorded",
        "reprobe",
        "worst_vs_r11_norm",
        "worst_vs_sf1_baseline",
        "worst_vs_r11",
        "worst",
        "sentinel_factor_sf1",
        "sentinel_factor",
        "all_ratio_vs_r11_norm",
        "all_ratio_vs_sf1_baseline_norm",
        "basket_n",
        "metric",
    ):
        if victim in summary:
            summary.pop(victim)
            summary["truncated"] = True
            line = json.dumps(summary, separators=(",", ":"))
            if len(line) <= limit:
                break
    print(
        f"# WARNING: final summary line overflowed {limit} chars; "
        f"dropped optional fields, now {len(line)} chars",
        file=sys.stderr,
    )
    if len(line) > limit:
        raise SystemExit(
            f"bench final summary line is {len(line)} chars even after "
            f"trimming — the driver's 2000-char tail would truncate it; "
            "move the offending field to stderr or an earlier line"
        )
    return line


def main() -> None:
    # Post-sweep EXTRAS (isolated reprobes, per-branch attribution) are
    # diagnostics, not the contract: if host steal stretches them past
    # this wall-clock deadline, they are skipped so the guaranteed final
    # summary line ALWAYS prints before any external timeout — losing it
    # is exactly the r13 `parsed: null` failure mode (r14).
    t_bench_start = time.perf_counter()
    extras_deadline = float(
        os.environ.get("SPARK_GRAFT_BENCH_EXTRAS_DEADLINE", "420")
    )

    def _extras_ok(what: str) -> bool:
        elapsed = time.perf_counter() - t_bench_start
        if elapsed > extras_deadline:
            print(
                f"# skipping {what}: {elapsed:.0f}s elapsed > "
                f"{extras_deadline:.0f}s extras deadline",
                file=sys.stderr,
            )
            return False
        return True

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # --sf N: run the sweep at another scale point (VERDICT r12 Next #6).
    # sf 1 resolves to the derived .scale/sf1 tables (10x key-space tiling
    # of sf0.1, scripts/make_scale_point.py); other values resolve to the
    # driver's /root/testdata/sfN directories.
    if "--sf" in sys.argv:
        want = sys.argv[sys.argv.index("--sf") + 1]
        if want in ("1", "1.0"):
            sf_dir = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), ".scale", "sf1"
            )
            if not os.path.isdir(sf_dir):
                raise SystemExit(
                    "sf1 tables missing - run scripts/make_scale_point.py"
                )
        else:
            sf_dir = f"/root/testdata/sf{want}"
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from enterprise_warp_spark.queries import REGISTRY
    from enterprise_warp_spark.session import get_spark

    spark = get_spark(app_name="ews-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: trigger JVM init, parquet footer reads, whole-stage-codegen JIT
    # for the common plan shapes (agg/window/join), and the Arrow + Python
    # worker pool once, so per-query numbers measure steady-state throughput
    # rather than first-touch JIT (3-8x inflation on the first kernel query).
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    w = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.rand(1).alias("v")
    )
    (
        w.join(w.groupBy("k").agg(F.avg("v").alias("m")), "k")
        .withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy("id")))
        .groupBy("k")
        .agg(F.sum("v"), F.max("rn"))
        .write.format("noop").mode("overwrite").save()
    )
    w.repartition(4, "k").mapInPandas(lambda it: it, "id long, k long, v double").groupBy(
        "k"
    ).applyInPandas(lambda p: p[["k"]].head(1), "k long").write.format("noop").mode(
        "overwrite"
    ).save()

    # Load sentinel (r12): this VM sees external host steal (loadavg 4-16
    # with zero local processes) that inflates EVERY wall-clock ~1.1-1.5x.
    # A fixed sentinel query timed at sweep START and END, divided by its
    # quiet-window r11 baseline, estimates the window's inflation factor so
    # the per-gate ratios can be reported both raw and load-normalized —
    # the interleaved-ratio method PERF.md uses for re-records, formalized.
    SENTINEL = "q1_pricing_summary"

    def _time_sentinel() -> float:
        import statistics as _st

        reps = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            REGISTRY[SENTINEL].spark(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            reps.append(time.perf_counter() - t0)
        return _st.median(reps)

    sentinel_start = _time_sentinel()

    # Median-of-3 per query: single-shot timings on this box show 3-8x
    # run-to-run spikes from GC pauses / VM steal on individual queries; the
    # median is robust to one spiked rep while still reflecting steady-state
    # cost (min would hide a real every-time regression behind one lucky
    # rep). The per-query spread (max-min) goes to stderr so noise-dominated
    # deltas are distinguishable from real regressions.
    import statistics

    n_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name, spec in sorted(REGISTRY.items()):
        reps: list[float] = []
        for _ in range(n_reps):
            # Drop any cached/checkpointed intermediates from the previous
            # rep: Spark's CacheManager matches by canonicalized plan, so an
            # identical rerun would silently read rep 1's cache and report a
            # cache-hit time instead of the query's real cost.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = spec.spark(spark, sf_dir)
            # noop sink materializes every output column (count() would let
            # Catalyst prune the computed ones entirely)
            df.write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(reps), 4)
        spreads[name] = round(max(reps) - min(reps), 4)
        print(
            f"# {name}: median {timings[name]:.3f}s "
            f"spread {spreads[name]:.3f}s ({n_reps} reps)",
            file=sys.stderr,
        )

    # bench-only x_ extras (marginalised-OS feeder, BPE cycle, CDC dedup,
    # importance wave) — timed single-shot via the module-level runners so
    # the post-sweep reprobe can re-adjudicate them (r14 verdict #5)
    for xname, xrun in X_RUNNERS.items():
        t0 = time.perf_counter()
        xret = xrun(spark, sf_dir)
        timings[xname] = round(time.perf_counter() - t0, 4)
        note = ""
        if xname == "x_importance_wave":
            # value pin: a drift means the sampling columns or weight
            # algebra changed, not noise
            logz_ok = (
                abs(xret - X_IMPORTANCE_LOGZ_PIN) <= X_IMPORTANCE_LOGZ_TOL
            )
            note = (
                f" log_evidence {xret:.4f} (pin {X_IMPORTANCE_LOGZ_PIN} "
                f"{'OK' if logz_ok else 'MISMATCH — estimator drifted'})"
            )
        print(
            f"# {xname}: {timings[xname]:.3f}s{note}",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 4)
    # `spread` = per-query (max - min) over the n_reps timings: this VM has
    # 2-3x wall-clock noise windows, so a regression is only real when the
    # median delta clears the recorded spread — machine-readable so round
    # deltas can be classified noise-vs-real without solo re-runs.
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread": spreads,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    # The driver keeps only a 2000-char tail of stdout, and the full JSON
    # line above is ~4KB (4-decimal medians + spreads) — so it always falls
    # outside the tail. The FINAL line therefore re-carries the documented
    # contract (r14 verdict #1: `"queries": {name: sec}` and `"sf"` MUST be
    # in the last line or PERF/scaling cannot adjudicate): per-query medians
    # at 2-decimal precision plus the headline diagnostics, with
    # compact_final_summary shedding diagnostics — never queries — under
    # the 1800-char bound. The full-precision line above is kept for humans.
    summary: dict[str, object] = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "queries": {q: round(v, 2) for q, v in timings.items()},
    }
    try:
        with open(os.path.join(os.path.dirname(__file__), "r1_baseline_queries.json")) as fh:
            r1 = json.load(fh)
        basket = sorted(set(r1) & set(timings))
        r1_sum = sum(r1[q] for q in basket)
        now_sum = sum(timings[q] for q in basket)
        ratios = sorted(
            ((round(timings[q] / r1[q], 2), q) for q in basket), reverse=True
        )
        summary["basket_n"] = len(basket)
        summary["basket_ratio_vs_r1"] = round(now_sum / r1_sum, 4)
        summary["worst"] = [
            [q, r, spreads.get(q, 0.0)] for r, q in ratios[:3]
        ]
        to_reprobe = [q for _, q in ratios[:3]]
        # r11 all-gate baseline (VERDICT r10 #2): the r1 basket covers only
        # 32 queries, so the heavy union gates (temporal/web_hygiene/
        # learned_sketch/search_rank/matching_geo) had no recorded per-gate
        # bound and a genuine 3x regression there would pass every gate.
        # r11_baseline_queries.json records a quiet-window solo median for
        # EVERY gate; flag + isolate-reprobe anything >=1.5x over it.
        try:
            with open(
                os.path.join(
                    os.path.dirname(__file__), "r11_baseline_queries.json"
                )
            ) as fh:
                full_baseline = json.load(fh)
            r11 = full_baseline["queries"]
            # the r11 per-gate baselines are sf0.1 quiet-window numbers:
            # at any other scale the ratios would measure data size, so
            # they are only reported at sf0.1 (sf1 has its own block)
            common = sorted(set(r11) & set(timings)) if sf == "0.1" else []
            ratios11 = []
            if common:
                summary["all_ratio_vs_r11"] = round(
                    sum(timings[q] for q in common)
                    / sum(r11[q] for q in common),
                    4,
                )
                ratios11 = sorted(
                    ((round(timings[q] / r11[q], 2), q) for q in common),
                    reverse=True,
                )
                summary["worst_vs_r11"] = [[q, r] for r, q in ratios11[:3]]
            # sentinel-normalized ratios: divide by the window's measured
            # inflation (mean of the start/end sentinel factors vs its
            # quiet baseline). A normalized ratio near 1.0 under a raw
            # ratio of 1.3 is host steal, not a regression. Only at sf0.1:
            # the r11 baselines are sf0.1 quiet-window numbers, so at any
            # other scale the sentinel factor measures data size, not load.
            # at sf1 the committed one-time scale-point baselines
            # (queries_sf1/sentinel_sf1, recorded r13) play the r11 role
            if sf == "1" and "queries_sf1" in full_baseline:
                r11_sf1 = full_baseline["queries_sf1"]
                common1 = sorted(set(r11_sf1) & set(timings))
                if common1:
                    summary["all_ratio_vs_sf1_baseline"] = round(
                        sum(timings[q] for q in common1)
                        / sum(r11_sf1[q] for q in common1),
                        4,
                    )
                    r1s = sorted(
                        ((round(timings[q] / r11_sf1[q], 2), q)
                         for q in common1),
                        reverse=True,
                    )
                    summary["worst_vs_sf1_baseline"] = [
                        [q, r] for r, q in r1s[:3]
                    ]
                    # sf1-flagged gates get the same isolated-reprobe
                    # self-adjudication the r11 path has (the r14 sf1
                    # adjudication run flagged minhash_lsh 2.1x in-sweep
                    # that solo-reprobes at its baseline — in-sweep reads
                    # inherit GC pressure from the preceding gate's 6M-row
                    # output at sf1)
                    to_reprobe += [
                        q for r, q in r1s[:3]
                        if r >= 1.5 and q not in to_reprobe
                    ]
                    sb = full_baseline.get("sentinel_sf1", 0)
                    if sb:
                        sentinel_end = _time_sentinel()
                        f0, f1 = sentinel_start / sb, sentinel_end / sb
                        lf = (f0 + f1) / 2
                        summary["sentinel_factor_sf1"] = [
                            round(f0, 3), round(f1, 3)
                        ]
                        summary["all_ratio_vs_sf1_baseline_norm"] = round(
                            summary["all_ratio_vs_sf1_baseline"] / lf, 4
                        )
            if SENTINEL in r11 and r11[SENTINEL] > 0 and sf == "0.1":
                sentinel_end = _time_sentinel()
                f0 = sentinel_start / r11[SENTINEL]
                f1 = sentinel_end / r11[SENTINEL]
                load_factor = (f0 + f1) / 2
                summary["sentinel_factor"] = [round(f0, 3), round(f1, 3)]
                if load_factor > 0:
                    summary["all_ratio_vs_r11_norm"] = round(
                        summary["all_ratio_vs_r11"] / load_factor, 4
                    )
                    summary["worst_vs_r11_norm"] = [
                        [q, round(r / load_factor, 2)]
                        for r, q in ratios11[:3]
                    ]
            to_reprobe += [
                q
                for r, q in ratios11[:3]
                if r >= 1.5 and q not in to_reprobe
            ]
        except (OSError, ValueError, KeyError, ZeroDivisionError):
            pass
        # the worst offenders get isolated reps (reprobe_worst): the
        # reprobe median is the number to trust when it disagrees with
        # the in-sweep median
        if _extras_ok("isolated reprobes"):
            reprobe_worst(
                spark, sf_dir, REGISTRY, to_reprobe, summary,
                extra_runners=X_RUNNERS,
            )
    except (OSError, ValueError, ZeroDivisionError):
        pass
    # Per-branch attribution for every union gate (r13 verdict #4): ONE
    # isolated post-sweep run per gate with SPARK_GRAFT_BRANCH_TIMING=1
    # (never inside the timed reps — the attribution materializes each
    # branch twice). Per-branch seconds go to stderr, with ratios against
    # the committed per-branch baseline where r11_baseline_queries.json
    # has one, so a regression inside a union is attributable without a
    # manual bisect.
    if sf == "0.1":
        from enterprise_warp_spark.queries import BRANCH_SECONDS

        for gate, basekey in (
            ("learned_sketch_ops", "learned_sketch_branches"),
            ("web_hygiene_ops", "web_hygiene_branches"),
            ("temporal_curation_ops", None),
            ("repeated_ngram_spans", None),
            ("embedding_ann_methods", None),
            ("search_rank_ops", None),
            ("matching_geo_ops", None),
            ("kernel_value_slices", None),
            ("ntile_bins_orders", None),
        ):
            if not _extras_ok(f"branch attribution for {gate}"):
                continue
            try:
                os.environ["SPARK_GRAFT_BRANCH_TIMING"] = "1"
                spark.catalog.clearCache()
                REGISTRY[gate].spark(spark, sf_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
                with open(
                    os.path.join(
                        os.path.dirname(__file__),
                        "r11_baseline_queries.json",
                    )
                ) as fh:
                    bb = json.load(fh).get(basekey, {})
                for bname, bsec in sorted(BRANCH_SECONDS[gate].items()):
                    b0 = bb.get(bname)
                    ratio = (
                        f" ({bsec / b0:.2f}x vs baseline {b0:.3f}s)"
                        if isinstance(b0, (int, float)) else ""
                    )
                    print(
                        f"# {gate} branch {bname}: {bsec:.3f}s{ratio}",
                        file=sys.stderr,
                    )
            except Exception as ex:  # noqa: BLE001 — best-effort
                print(
                    f"# branch attribution failed for {gate}: "
                    f"{type(ex).__name__}",
                    file=sys.stderr,
                )
            finally:
                os.environ.pop("SPARK_GRAFT_BRANCH_TIMING", None)
    # carry the committed sf1 scale point alongside the live sf0.1 numbers
    # — COMPACT (r13 verdict #1: embedding all 52 per-query sf1 times blew
    # the final line past the driver's 2000-char stdout tail and r13's
    # bench artifact parsed as null). Total + pointer only; the full
    # per-query block lives in SCALE_sf1.json.
    if sf == "0.1":
        try:
            with open(
                os.path.join(os.path.dirname(__file__), "SCALE_sf1.json")
            ) as fh:
                _sf1 = json.load(fh)
            summary["sf1_recorded"] = {
                "total_sec": _sf1.get("total_sec"),
                "n_queries": len(_sf1.get("queries", {})),
                "detail": "SCALE_sf1.json",
            }
        except (OSError, ValueError):
            pass
    print(compact_final_summary(summary))
    spark.stop()


if __name__ == "__main__":
    main()
