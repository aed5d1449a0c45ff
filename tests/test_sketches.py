"""Error-bound gates for the sketch operators (operators/sketches.py):
approximate answers must land within their advertised bounds of the exact
aggregates on the sf0.01 events table."""

from __future__ import annotations

from pyspark.sql import functions as F

from enterprise_warp_spark.operators.sketches import (
    approx_distinct_by,
    approx_quantiles_by,
    heavy_hitters,
)
from enterprise_warp_spark.tables import table


def test_approx_distinct_within_rsd(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["d"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    approx = {
        r["event_type"]: r["approx_distinct"]
        for r in approx_distinct_by(ev, "event_type", "user_id", rsd=0.02).collect()
    }
    assert set(approx) == set(exact)
    for k, d in exact.items():
        # 5 sigma of the target 2% relative standard deviation
        assert abs(approx[k] - d) <= max(1, 0.1 * d), (k, approx[k], d)


def test_approx_quantiles_within_rank_error(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    probs = (0.16, 0.5, 0.84)
    approx = {
        r["event_type"]: r["approx_q"]
        for r in approx_quantiles_by(ev, "event_type", "value", probs).collect()
    }
    exact = {
        r["event_type"]: r["q"]
        for r in ev.groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.16, 0.5, 0.84))").alias("q"))
        .collect()
    }
    for k in exact:
        for a, e in zip(approx[k], exact[k]):
            assert abs(a - e) <= 0.05 * max(1.0, abs(e)), (k, a, e)


def test_heavy_hitters_bounds_vs_exact(spark, sf_dir):
    """MG-sketch guarantees vs the exact twin: no false negatives among true
    heavy hitters, and every reported value's true count sits inside
    [n_lower, n_upper] with a band <= n_group / capacity."""
    from enterprise_warp_spark.operators.sketches import frequent_values_exact

    ev = table(spark, sf_dir, "events")
    cap = 512  # guarantee needs capacity+1 > 1/min_share (here 513 > 200)
    hh = heavy_hitters(
        ev, "event_type", "user_id", min_share=0.005, capacity=cap
    ).collect()
    assert len(hh) > 0
    exact_counts = {
        (r["event_type"], str(r["user_id"])): r["n"]
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total_by_type = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    reported = {(r["event_type"], r["user_id"]) for r in hh}
    # no false negatives: every true >=0.5% value is reported
    for (g, v), n in exact_counts.items():
        if n >= 0.005 * total_by_type[g]:
            assert (g, v) in reported, (g, v, n)
    for r in hh:
        true = exact_counts.get((r["event_type"], r["user_id"]), 0)
        assert r["n_lower"] <= true <= r["n_upper"], (r, true)
        # eps_tot <= n_group/(cap+1): each decrement delta removes >=
        # (cap+1)*delta counted mass and total mass is n_group
        assert r["n_upper"] - r["n_lower"] <= total_by_type[r["event_type"]] / cap + 1


def test_heavy_hitters_exact_when_within_capacity(spark, sf_dir):
    """capacity >= group cardinality => zero decrements => sketch == exact."""
    from enterprise_warp_spark.operators.sketches import frequent_values_exact

    ev = table(spark, sf_dir, "events")
    hh = {
        (r["event_type"], r["user_id"]): (r["n_lower"], r["n_upper"])
        for r in heavy_hitters(
            ev, "event_type", "user_id", min_share=0.01, capacity=100_000
        ).collect()
    }
    exact = {
        (r["event_type"], str(r["user_id"])): r["n"]
        for r in frequent_values_exact(
            ev, "event_type", "user_id", min_share=0.01
        ).collect()
    }
    assert set(hh) == set(exact)
    for k, n in exact.items():
        assert hh[k] == (n, n), (k, hh[k], n)


def test_heavy_hitters_plan_never_shuffles_value_space(spark, sf_dir):
    """The only exchanges carry the <=capacity-row summaries: the
    MapInPandas partial pass runs ONCE (r8: eagerly checkpointed, so its
    two consumers read the materialized summaries instead of re-running
    the full-data pass) and every Exchange sits above the checkpoint
    scan, never above a raw FileScan of the value column."""
    import contextlib
    import io

    ev = table(spark, sf_dir, "events")
    df = heavy_hitters(ev, "event_type", "user_id", min_share=0.01)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    p = buf.getvalue()
    # the downstream plan reads the materialized summaries — both
    # consumers share ONE partial pass, and no FileScan (raw value rows)
    # appears under any Exchange
    assert "Scan ExistingRDD" in p
    assert "MapInPandas" not in p  # already ran inside the checkpoint
    assert "FileScan" not in p
    # the checkpoint itself was produced by a MapInPandas directly on the
    # scan (one pass): pin on a FRESH, un-checkpointed equivalent plan
    from pyspark.sql import functions as F

    slim = ev.select(
        F.col("event_type").cast("string").alias("event_type"),
        F.col("user_id"),
    )
    pre = slim.mapInPandas(lambda it: it, "event_type string, user_id long")
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        pre.explain("simple")
    p2 = buf2.getvalue()
    assert "MapInPandas" in p2 and "Exchange" not in p2


def test_heavy_hitters_adversarial_zipf_skew(spark):
    """MG false-negative guarantee at adversarial skew (VERDICT r4 item 10):
    a zipf-distributed value column with a long high-cardinality tail,
    spread over MANY partitions so per-partition summaries see different
    tails, must still report EVERY true heavy hitter as long as
    capacity + 1 > 1/min_share — and the reported bounds must bracket the
    true counts with total slack <= n_group / (capacity + 1)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(77)
    n = 60_000
    # zipf(1.3) truncated: head values huge, tail ~tens of thousands distinct
    vals = np.minimum(rng.zipf(1.3, n), 200_000)
    groups = rng.integers(0, 3, n)
    pdf = pd.DataFrame({"g": groups, "v": vals})
    df = spark.createDataFrame(pdf).repartition(32)  # many partial summaries

    min_share, capacity = 0.02, 64  # capacity + 1 = 65 > 1/0.02 = 50
    got = heavy_hitters(df, "g", "v", min_share=min_share, capacity=capacity)
    by_gv = {(r["g"], r["v"]): r for r in got.collect()}

    exact = pdf.groupby("g")["v"].value_counts()
    n_g = pdf.groupby("g").size()
    for (g, v), cnt in exact.items():
        if cnt >= min_share * n_g[g]:
            key = (str(g), str(v))
            assert key in by_gv, f"false negative: {key} count={cnt}"
            r = by_gv[key]
            assert r["n_lower"] <= cnt <= r["n_upper"], (key, cnt, dict(r.asDict()))
            assert r["n_upper"] - r["n_lower"] <= n_g[g] / (capacity + 1)
    # capacity-vs-min_share guidance: the false-positive band is values in
    # [min_share - 1/(capacity+1), min_share) — everything reported must at
    # least clear the lower edge
    for (g, v), r in by_gv.items():
        true_cnt = exact.get((int(g), int(v)), 0)
        assert true_cnt >= (min_share - 1.0 / (capacity + 1)) * n_g[int(g)] - 1


class TestBloom:
    """operators/sketches.py bloom_build/bloom_probe: portable md5
    double-hash Bloom filter for decontamination-style membership probes."""

    def test_no_false_negatives_and_fpr_bound(self, spark):
        from pyspark.sql import functions as F

        from enterprise_warp_spark.operators.sketches import (
            bloom_build,
            bloom_probe,
        )

        n, m, k = 2_000, 1 << 16, 5
        items = spark.range(0, n).select(
            F.concat(F.lit("key-"), F.col("id")).alias("x")
        )
        bl = bloom_build(items, "x", m_bits=m, k=k)
        probe = spark.range(0, 20_000).select(
            F.col("id"), F.concat(F.lit("key-"), F.col("id")).alias("x")
        )
        out = bloom_probe(probe, "x", bl, m_bits=m, k=k).toPandas()
        members = out[out["id"] < n]
        rest = out[out["id"] >= n]
        assert bool(members["maybe_member"].all())  # NEVER a false negative
        # theory: (1 - e^{-kn/m})^k ~ 2.2e-4 at these params; allow 10x
        import math

        fpr = float(rest["maybe_member"].mean())
        bound = 10 * (1 - math.exp(-k * n / m)) ** k
        assert fpr <= max(bound, 5e-3), fpr


    def test_sharded_build_merges_to_same_filter(self, spark):
        from pyspark.sql import functions as F

        from enterprise_warp_spark.operators.sketches import bloom_build

        items = spark.range(0, 1_000).select(F.col("id").cast("string").alias("x"))
        whole = {
            (r["word_idx"], r["word"])
            for r in bloom_build(items, "x", m_bits=4096, k=3).collect()
        }
        sh1 = bloom_build(items.filter("cast(x as int) % 2 = 0"), "x", m_bits=4096, k=3)
        sh2 = bloom_build(items.filter("cast(x as int) % 2 = 1"), "x", m_bits=4096, k=3)
        merged = {
            (r["word_idx"], r["word"])
            for r in sh1.unionByName(sh2)
            .groupBy("word_idx")
            .agg(F.bit_or("word").alias("word"))
            .collect()
        }
        assert merged == whole

    def test_probe_plan_is_map_only(self, spark):
        from pyspark.sql import functions as F

        from enterprise_warp_spark.operators.sketches import (
            bloom_build,
            bloom_probe,
        )

        items = spark.range(0, 100).select(F.col("id").cast("string").alias("x"))
        bl = bloom_build(items, "x", m_bits=1024, k=3)
        out = bloom_probe(
            spark.range(0, 100).select(F.col("id").cast("string").alias("x")),
            "x",
            bl,
            m_bits=1024,
            k=3,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # the corpus is never shuffled

    def test_parameter_guards(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from enterprise_warp_spark.operators.sketches import (
            bloom_build,
            bloom_probe,
        )

        items = spark.range(0, 4).select(F.col("id").cast("string").alias("x"))
        with pytest.raises(ValueError, match="multiple of 64"):
            bloom_build(items, "x", m_bits=100)
        with pytest.raises(ValueError, match=r"k must be in \[1, 8\]"):
            bloom_build(items, "x", k=9)  # k*h2 would overflow int64
        bl = bloom_build(items, "x", m_bits=64, k=1)
        with pytest.raises(ValueError, match="broadcast join"):
            bloom_probe(items, "x", bl, m_bits=1 << 23, k=1)

    def test_empty_build_rejects_everything(self, spark):
        from pyspark.sql import functions as F

        from enterprise_warp_spark.operators.sketches import (
            bloom_build,
            bloom_probe,
        )

        empty = spark.range(0, 0).select(F.col("id").cast("string").alias("x"))
        bl = bloom_build(empty, "x", m_bits=256, k=2)
        out = bloom_probe(
            spark.range(0, 50).select(F.col("id").cast("string").alias("x")),
            "x",
            bl,
            m_bits=256,
            k=2,
        ).toPandas()
        assert not out["maybe_member"].any()


class TestKMVDistinct:
    """kmv_distinct_by: the exactly-replayable distinct sketch (KMV,
    Bar-Yossef et al. 2002) — error bound vs exact, sub-k exactness, and
    the arg guard."""

    def test_estimate_within_error_bound(self, spark):
        from pyspark.sql import functions as F

        from enterprise_warp_spark.operators.sketches import kmv_distinct_by

        # two groups with known distinct counts 5000 and 1200 (values
        # repeat x3 so distinct != row count)
        df = spark.range(15000).select(
            F.lit("a").alias("g"), (F.col("id") % 5000).alias("v")
        ).unionByName(
            spark.range(3600).select(
                F.lit("b").alias("g"), (F.col("id") % 1200).alias("v")
            )
        )
        k = 64
        out = {r["g"]: r for r in kmv_distinct_by(df, "g", "v", k=k).collect()}
        for g, exact in (("a", 5000), ("b", 1200)):
            est = out[g]["kmv_distinct"]
            assert out[g]["n_kept"] == k
            # 4-sigma bound, sigma ~ D / sqrt(k - 2)
            assert abs(est - exact) <= 4.0 * exact / (k - 2) ** 0.5, (g, est)

    def test_sub_k_groups_are_exact(self, spark):
        from pyspark.sql import functions as F

        from enterprise_warp_spark.operators.sketches import kmv_distinct_by

        df = spark.range(300).select(
            F.lit("tiny").alias("g"), (F.col("id") % 17).alias("v")
        )
        row = kmv_distinct_by(df, "g", "v", k=64).first()
        assert row["n_kept"] == 17
        assert row["kmv_distinct"] == 17.0  # exact below k

    def test_k_guard_and_merge_property(self, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from enterprise_warp_spark.operators.sketches import kmv_distinct_by

        with _pytest.raises(ValueError, match="k >= 2"):
            kmv_distinct_by(spark.range(1), "id", "id", k=1)

        # mergeability: the sketch of a union equals re-sketching the
        # union of the halves' kept hashes — here verified end-to-end:
        # same data split into two DataFrames and unioned gives the
        # identical (kth_hash, estimate)
        a = spark.range(0, 2000).select(F.lit("g").alias("g"), F.col("id").alias("v"))
        b = spark.range(2000, 4000).select(F.lit("g").alias("g"), F.col("id").alias("v"))
        whole = kmv_distinct_by(a.unionByName(b), "g", "v", k=32).first()
        again = kmv_distinct_by(b.unionByName(a), "g", "v", k=32).first()
        assert whole["kth_hash"] == again["kth_hash"]
        assert whole["kmv_distinct"] == again["kmv_distinct"]


class TestCountMin:
    """count_min_by / count_min_estimate: the CM guarantee (never
    undercounts), the width-bound on overestimation, shard mergeability,
    and arg guards."""

    def test_never_undercounts_and_bounded_over(self, spark):
        from pyspark.sql import functions as F

        from enterprise_warp_spark.operators.sketches import (
            count_min_by,
            count_min_estimate,
        )

        # zipf-ish: value v appears 1000//(v+1) times, v in 0..49
        rows = [(v,) for v in range(50) for _ in range(1000 // (v + 1))]
        df = spark.createDataFrame(rows, "v long")
        n = df.count()
        d, w = 4, 64
        sk = count_min_by(df, "v", depth=d, width=w)
        est = {
            r["value"]: r["cm_count"]
            for r in count_min_estimate(sk, df, "v", depth=d, width=w).collect()
        }
        true = {v: 1000 // (v + 1) for v in range(50)}
        for v, t in true.items():
            assert est[v] >= t, (v, est[v], t)  # CM never undercounts
            # standard bound: over <= 2n/w with prob 1 - 2^-d; allow 3x
            assert est[v] - t <= 3 * (2 * n / w), (v, est[v], t)

    def test_merge_by_sum_equals_whole(self, spark):
        from pyspark.sql import functions as F

        from enterprise_warp_spark.operators.sketches import count_min_by

        a = spark.range(0, 4000).select((F.col("id") % 37).alias("v"))
        b = spark.range(4000, 9000).select((F.col("id") % 53).alias("v"))
        d, w = 3, 32
        whole = {
            (r["row_i"], r["bucket"]): r["c"]
            for r in count_min_by(a.unionByName(b), "v", d, w).collect()
        }
        part = {}
        for half in (a, b):
            for r in count_min_by(half, "v", d, w).collect():
                k = (r["row_i"], r["bucket"])
                part[k] = part.get(k, 0) + r["c"]
        assert part == whole  # sketches merge by elementwise sum

    def test_null_and_guard(self, spark):
        import pytest as _pytest

        from enterprise_warp_spark.operators.sketches import (
            count_min_by,
            count_min_estimate,
        )

        df = spark.createDataFrame([(1,), (None,), (1,)], "v long")
        sk = count_min_by(df, "v", depth=2, width=8)
        # nulls excluded from the build: total mass = 2 per row
        assert {r["c"] for r in sk.collect()} == {2}
        est = count_min_estimate(sk, df, "v", depth=2, width=8).collect()
        assert len(est) == 1 and est[0]["cm_count"] == 2
        with _pytest.raises(ValueError, match=">= 1"):
            count_min_by(df, "v", depth=0)

    def test_from_counts_equals_raw_build(self, spark):
        from pyspark.sql import functions as F

        from enterprise_warp_spark.operators.sketches import (
            count_min_by,
            count_min_from_counts,
        )

        raw = spark.range(5000).select((F.col("id") % 73).alias("v"))
        counts = raw.groupBy("v").agg(F.count(F.lit(1)).alias("n"))
        d, w = 3, 32
        a = {
            (r["row_i"], r["bucket"]): r["c"]
            for r in count_min_by(raw, "v", d, w).collect()
        }
        b = {
            (r["row_i"], r["bucket"]): r["c"]
            for r in count_min_from_counts(counts, "v", "n", d, w).collect()
        }
        assert a == b  # pre-aggregated build is exactly the raw build


class TestKmvSetOps:
    """kmv_set_ops (theta-sketch-framework union/intersection/Jaccard over
    KMV bottom-k sketches) pinned against an independent Python twin, plus
    its exact-degradation and guard contracts."""

    @staticmethod
    def _twin(rows, k):
        import hashlib
        import itertools

        T = 1 << 60
        sets: dict = {}
        for g, v in rows:
            sets.setdefault(g, set()).add(v)
        hs = {
            g: sorted(
                int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
                for v in vs
            )
            for g, vs in sets.items()
        }
        out = {}
        for a, b in itertools.combinations(sorted(hs), 2):
            ka, kb = hs[a][:k], hs[b][:k]
            ta = T if len(ka) < k else ka[-1]
            tb = T if len(kb) < k else kb[-1]
            th = min(ta, tb)
            sa = {x for x in ka if x < th}
            sb = {x for x in kb if x < th}
            i_, u_ = len(sa & sb), len(sa | sb)
            out[(a, b)] = dict(
                theta=th,
                inter_cnt=i_,
                union_cnt=u_,
                intersect_est=round(i_ * (float(T) / th), 6),
                union_est=round(u_ * (float(T) / th), 6),
                jaccard=0.0 if u_ == 0 else round(i_ / u_, 6),
            )
        return out

    def test_matches_python_twin(self, spark):
        import random

        from enterprise_warp_spark.operators.sketches import kmv_set_ops

        rng = random.Random(5)
        rows = [(f"g{i % 3}", rng.randint(0, 400)) for i in range(3000)]
        rows += [("tiny", 1), ("tiny", 2)]  # unsaturated sketch
        df = spark.createDataFrame(rows, ["g", "v"])
        got = {
            (r.group_a, r.group_b): r.asDict()
            for r in kmv_set_ops(df, "g", "v", k=16).collect()
        }
        want = self._twin(rows, 16)
        assert set(got) == set(want)
        for pair, exp in want.items():
            for col, val in exp.items():
                assert got[pair][col] == val, (pair, col)

    def test_unsaturated_pairs_are_exact(self, spark):
        """Both sketches below k -> theta = 2^60 -> set ops are EXACT."""
        from enterprise_warp_spark.operators.sketches import kmv_set_ops

        rows = [("a", v) for v in range(10)] + [("b", v) for v in range(5, 20)]
        df = spark.createDataFrame(rows, ["g", "v"])
        r = kmv_set_ops(df, "g", "v", k=64).collect()[0]
        assert (r.inter_cnt, r.union_cnt) == (5, 20)
        assert (r.intersect_est, r.union_est) == (5.0, 20.0)
        assert r.jaccard == 0.25

    def test_disjoint_and_guard(self, spark):
        import pytest as _pytest

        from enterprise_warp_spark.operators.sketches import kmv_set_ops

        rows = [("a", v) for v in range(8)] + [("b", v + 100) for v in range(8)]
        df = spark.createDataFrame(rows, ["g", "v"])
        r = kmv_set_ops(df, "g", "v", k=8).collect()[0]
        assert r.inter_cnt == 0 and r.jaccard == 0.0
        with _pytest.raises(ValueError):
            kmv_set_ops(df, "g", "v", k=1)

    def test_estimate_tracks_truth_at_scale(self, spark):
        """Statistical contract: with k=256 over ~20k distinct values the
        union/intersection estimates land within 4/sqrt(k-2) of truth."""
        import random

        from enterprise_warp_spark.operators.sketches import kmv_set_ops

        rng = random.Random(11)
        rows = [("a", rng.randint(0, 20000)) for _ in range(30000)]
        rows += [("b", rng.randint(10000, 30000)) for _ in range(30000)]
        sets: dict = {}
        for g, v in rows:
            sets.setdefault(g, set()).add(v)
        true_i = len(sets["a"] & sets["b"])
        true_u = len(sets["a"] | sets["b"])
        df = spark.createDataFrame(rows, ["g", "v"])
        r = kmv_set_ops(df, "g", "v", k=256).collect()[0]
        tol = 4.0 / (254.0**0.5)
        assert abs(r.union_est - true_u) <= tol * true_u
        assert abs(r.intersect_est - true_i) <= tol * true_u  # abs err ~ U


class TestAmsF2:
    """ams_f2_by / ams_f2_estimate (AMS second-frequency-moment sketch)
    pinned against an independent Python twin; statistical contract vs the
    exact self-join size."""

    def test_counters_and_median_match_twin(self, spark):
        import collections
        import hashlib
        import random

        from enterprise_warp_spark.operators.sketches import (
            ams_f2_by,
            ams_f2_estimate,
        )

        rng = random.Random(3)
        rows = [(f"g{i % 2}", rng.randint(0, 50)) for i in range(5000)]
        df = spark.createDataFrame(rows, ["g", "v"])
        z = ams_f2_by(df, "g", "v", r=16)
        tz: collections.Counter = collections.Counter()
        for g, v in rows:
            for j in range(16):
                h = int(hashlib.md5(f"{j}|{v}".encode()).hexdigest()[:15], 16)
                tz[(g, j)] += 1 - 2 * (h % 2)
        assert {(r.g, r.j): r.z for r in z.collect()} == dict(tz)
        est = {r.g: r.f2_est for r in ams_f2_estimate(z, "g").collect()}
        for g in ("g0", "g1"):
            ms = sorted(
                sum(tz[(g, j)] ** 2 for j in range(4 * b, 4 * b + 4)) / 4
                for b in range(4)
            )
            assert est[g] == (ms[1] + ms[2]) / 2

    def test_estimate_tracks_self_join_size(self, spark):
        """E[z^2] = F2; with r=64 the median-of-means lands within 50% of
        the exact second moment on a zipf-ish corpus (loose 3-sigma-ish
        bound for a deterministic seed)."""
        import collections
        import random

        from enterprise_warp_spark.operators.sketches import (
            ams_f2_by,
            ams_f2_estimate,
        )

        rng = random.Random(9)
        rows = [("a", int(rng.paretovariate(1.2)) % 500) for _ in range(20000)]
        cnt = collections.Counter(v for _, v in rows)
        f2 = sum(c * c for c in cnt.values())
        df = spark.createDataFrame(rows, ["g", "v"])
        est = ams_f2_estimate(
            ams_f2_by(df, "g", "v", r=64), "g"
        ).collect()[0].f2_est
        assert abs(est - f2) <= 0.5 * f2

    def test_guard_and_null_exclusion(self, spark):
        import pytest as _pytest

        from enterprise_warp_spark.operators.sketches import ams_f2_by

        df = spark.createDataFrame(
            [("a", 1), ("a", None), ("a", 1)], ["g", "v"]
        )
        z = ams_f2_by(df, "g", "v", r=4)
        # null rows excluded: every |z_j| must equal 2 (two identical rows)
        assert all(abs(r.z) == 2 for r in z.collect())
        with _pytest.raises(ValueError):
            ams_f2_by(df, "g", "v", r=0)


class TestDDSketch:
    """ddsketch_by / ddsketch_quantiles (relative-error quantile sketch):
    the paper's accuracy guarantee vs full sorts, exact mergeability,
    sign/zero handling, guards."""

    def test_relative_error_guarantee(self, spark):
        import collections
        import math
        import random

        from enterprise_warp_spark.operators.sketches import (
            ddsketch_by,
            ddsketch_quantiles,
        )

        rng = random.Random(1)
        rows = (
            [("a", rng.lognormvariate(2, 1.5)) for _ in range(8000)]
            + [("a", -rng.lognormvariate(1, 1)) for _ in range(2000)]
            + [("a", 0.0)] * 100
            + [("b", float(rng.randint(1, 50))) for _ in range(3000)]
        )
        df = spark.createDataFrame(rows, ["g", "v"])
        alpha = 0.02
        sk = ddsketch_by(df, "g", "v", alpha=alpha)
        vals: dict = collections.defaultdict(list)
        for g, v in rows:
            vals[g].append(v)
        for g in vals:
            vals[g].sort()
        out = ddsketch_quantiles(
            sk, "g", (0.01, 0.25, 0.5, 0.75, 0.99), alpha=alpha
        ).collect()
        assert len(out) == 10
        for r in out:
            n = len(vals[r.g])
            assert r.n == n
            rank = math.floor((n - 1) * r.p) + 1
            assert r.rank == rank
            exact = vals[r.g][rank - 1]
            if exact == 0:
                assert r.est == 0.0
            else:
                assert abs(r.est - exact) <= alpha * abs(exact) + 1e-12

    def test_merge_by_sum_equals_whole(self, spark):
        import random

        from pyspark.sql import functions as F

        from enterprise_warp_spark.operators.sketches import ddsketch_by

        rng = random.Random(5)
        rows = [("g", rng.uniform(0.1, 900.0)) for _ in range(4000)]
        whole = {
            (r.sign, r.idx): r.c
            for r in ddsketch_by(
                spark.createDataFrame(rows, ["g", "v"]), "g", "v"
            ).collect()
        }
        h1 = ddsketch_by(
            spark.createDataFrame(rows[:1500], ["g", "v"]), "g", "v"
        )
        h2 = ddsketch_by(
            spark.createDataFrame(rows[1500:], ["g", "v"]), "g", "v"
        )
        merged = {
            (r.sign, r.idx): r.c
            for r in h1.unionByName(h2)
            .groupBy("g", "sign", "idx")
            .agg(F.sum("c").alias("c"))
            .collect()
        }
        assert merged == whole

    def test_guard(self, spark):
        import pytest as _pytest

        from enterprise_warp_spark.operators.sketches import ddsketch_by

        df = spark.createDataFrame([("a", 1.0)], ["g", "v"])
        with _pytest.raises(ValueError):
            ddsketch_by(df, "g", "v", alpha=1.5)
