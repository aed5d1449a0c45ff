"""Physical-plan regression tests — the properties that decide 100 TB
behavior, asserted so a refactor cannot silently regress them:

  * predicate pushdown reaches the parquet scan (PushedFilters)
  * column pruning reaches the scan (ReadSchema excludes unused columns)
  * dimension joins broadcast; fact tables never cartesian-join
  * pair-generating dedup/ANN operators stay equi-joins (no CartesianProduct
    / BroadcastNestedLoopJoin in the candidate path)
  * whole-stage codegen covers the relational spine
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from enterprise_warp_spark.queries import REGISTRY


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def sf001():
    return "/root/testdata/sf0.01"


def test_q1_pushdown_and_pruning(spark, sf001):
    p = plan(REGISTRY["q1_pricing_summary"].spark(spark, sf001))
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1][:200]
    # column pruning: q1 never touches the join keys
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema
    # everything JVM-side: no row-at-a-time Python evaluation in any
    # relational catalog plan (AQE hides the codegen * markers pre-execution,
    # so assert the absence of the slow path instead)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q5_broadcasts_dims_no_cartesian(spark, sf001):
    p = plan(REGISTRY["q5_region_volume"].spark(spark, sf001))
    assert p.count("BroadcastHashJoin") >= 3  # customer/supplier/nation/region
    assert "CartesianProduct" not in p


def test_anti_join_is_broadcast(spark, sf001):
    p = plan(REGISTRY["anti_join_lineitem"].spark(spark, sf001))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_lsh_candidate_paths_are_equi_joins(spark, sf001):
    for name in ("minhash_lsh", "ngram_jaccard_pairs"):
        p = plan(REGISTRY[name].spark(spark, sf001))
        assert "CartesianProduct" not in p, name
    # r11: even the brute baseline no longer carries a cartesian (the
    # Q x N scoring runs inside the broadcast-queries Arrow kernel); the
    # scale paths (lsh/ivf) are asserted equi-join directly
    from enterprise_warp_spark.pipeline import similarity
    from enterprise_warp_spark.tables import table as _table

    emb = _table(spark, sf001, "embeddings")
    for df in (
        similarity.bucketed_topk(emb, "vec_id < 10", 5, n_planes=4),
        similarity.ivf_topk(emb, "vec_id < 10", 5, n_cells=16, nprobe=4),
        similarity.cosine_topk(emb, "vec_id < 10", 5),
    ):
        # (BroadcastNestedLoopJoin IS allowed here: the IVF centroid fan-out
        # is a deliberate broadcast of the tiny centroid table)
        p = plan(df)
        assert "CartesianProduct" not in p


def test_chain_ops_partition_prune_on_groups(spark, sf001):
    # grouped mode estimator: the two-pass shape broadcasts the 1-row-per-
    # group bounds, never resorting to a cartesian join
    p = plan(REGISTRY["hist_mode"].spark(spark, sf001))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_flag_filter_prunes_columns(spark, sf001):
    # the flag/substr branches live inside string_predicate_select now;
    # their events scans must still prune the unused user_id column
    p = plan(REGISTRY["string_predicate_select"].spark(spark, sf001))
    for ln in p.splitlines():
        if "ReadSchema" in ln and "event_type" in ln:
            assert "user_id" not in ln  # unused column pruned at the scan


def test_gp_kernel_partitions_by_psr(spark):
    import pandas as pd

    from enterprise_warp_spark.likelihood.gp import gp_loglik_per_pulsar

    df = spark.createDataFrame(
        [("J1", 0.0, 1e-7, 1e-6, 1.0, 0.0), ("J1", 864000.0, 0.0, 1e-6, 1.0, 0.0)],
        "psr string, toa_s double, residual_s double, toa_err_s double, efac double, equad double",
    )
    samples = pd.DataFrame({"sample_id": [0], "log10_A": [-14.0], "gamma": [3.0]})
    p = plan(gp_loglik_per_pulsar(df, samples, nfreqs=2))
    # one hash-partition exchange on psr feeding the Arrow kernel
    assert "FlatMapGroupsInPandas" in p or "FlatMapGroupsIn" in p
    assert "hashpartitioning(psr" in p


def test_bucketed_join_has_no_exchange(spark, sf001, tmp_path):
    """Bucketed fact tables join without a shuffle (co-located scan)."""
    from enterprise_warp_spark.tables import table, write_bucketed

    li = table(spark, sf001, "lineitem").select("l_orderkey", "l_quantity")
    orders = table(spark, sf001, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_b", "l_orderkey", 8, str(tmp_path / "li_b"))
    write_bucketed(orders, "o_b", "o_orderkey", 8, str(tmp_path / "o_b"))
    joined = spark.table("li_b").join(
        spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    p = plan(joined)
    # no shuffle on either side of the join
    assert "Exchange hashpartitioning" not in p
    # and it computes the same thing as the shuffle join
    shuffled = li.join(orders, li.l_orderkey == orders.o_orderkey)
    assert joined.count() == shuffled.count()
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")


def test_olap_queries_no_cartesian(spark, sf001):
    """New OLAP shapes stay equi-join / single-shuffle: no cartesian or
    nested-loop fallback anywhere."""
    for name in (
        "grouping_sets_orders",
        "pivot_status_by_priority",
        "q14_q17_part_stats",
        "q18_large_orders",
        "semi_join_order_priority",
        "q13_customer_order_distribution",
        "q7_q8_q10_trade_stats",
        "chain_census_ops",
    ):
        p = plan(REGISTRY[name].spark(spark, sf001))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_rollup_is_single_expand_aggregate(spark, sf001):
    """Each grouping-set branch (ROLLUP and CUBE) compiles to one Expand +
    hash aggregate over one scan — not one scan per grouping level."""
    p = plan(REGISTRY["grouping_sets_orders"].spark(spark, sf001), "simple")
    assert p.count("Expand") == 2  # one per branch (rollup + cube)
    # one orders scan per grouping branch (never one per level) + the four
    # tiny nation-key scans of the folded set_intersect/set_union branches
    assert p.count("orders.parquet") == 2
    assert p.count("Scan parquet") == 6


def test_pivot_is_single_scan(spark, sf001):
    """Explicit-values pivot == conditional aggregation over ONE scan."""
    p = plan(REGISTRY["pivot_status_by_priority"].spark(spark, sf001), "simple")
    assert p.count("Scan parquet") == 1


def test_semi_join_stays_semi(spark, sf001):
    p = plan(REGISTRY["semi_join_order_priority"].spark(spark, sf001))
    assert "LeftSemi" in p


def test_ivf_centroids_broadcast(spark, sf001):
    """IVF fan-out join broadcasts the small centroid table; candidate join
    is an equi-join on cell_id (asserted on the IVF path alone)."""
    from enterprise_warp_spark.pipeline import similarity
    from enterprise_warp_spark.tables import table as _table

    emb = _table(spark, sf001, "embeddings")
    p = plan(similarity.ivf_topk(emb, "vec_id < 10", 5, n_cells=16, nprobe=4))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_per_pulsar_reduction_is_two_phase(spark):
    """The heavy TOA pass must be chunk-parallel: partial F^T N^-1 F /
    F^T N^-1 r per (psr, chunk) then a merge aggregate per psr — two
    FlatMapGroupsInPandas nodes, never one task per pulsar."""
    from enterprise_warp_spark.analytics.optimal_statistic import (
        per_pulsar_reduction,
    )

    res = spark.createDataFrame(
        [("J0001+0000", 1.0, 1e-7, 1e-6, 1.0, 0.0)],
        "psr string, toa_s double, residual_s double, toa_err_s double, "
        "efac double, equad double",
    )
    p = plan(per_pulsar_reduction(res, 4, 1e8), "simple")
    assert p.count("FlatMapGroupsInPandas") == 2


def test_trade_stats_broadcasts_dims(spark, sf001):
    """Q7/Q8/Q10 spine: nation/supplier dims ride broadcast joins; the only
    big shuffle is lineitem-orders (never a shuffled nation join)."""
    p = plan(REGISTRY["q7_q8_q10_trade_stats"].spark(spark, sf001))
    assert p.count("BroadcastHashJoin") >= 6  # cn, s, sn in q7/q8 spine + q10 cn
    assert "CartesianProduct" not in p


def test_hypermodel_resample_never_single_partition(spark):
    """The distributed systematic resample (product_space.hypermodel_sample)
    must do its prefix sums with chunk-partitioned windows — a refactor back
    to one global window would serialize the whole chain through a
    SinglePartition exchange."""
    import json

    import numpy as np

    from enterprise_warp_spark.likelihood.product_space import hypermodel_sample

    rng = np.random.default_rng(3)
    rows = [
        ("J1", float(t), float(rng.normal(0, 1e-6)), 1e-6, 1.0, 0.0)
        for t in np.sort(rng.uniform(0, 2.5e8, 60))
    ]
    res = spark.createDataFrame(
        rows,
        "psr string, toa_s double, residual_s double, toa_err_s double, "
        "efac double, equad double",
    )
    models = {
        0: [],
        1: [{"signal": "spin_noise", "option_json": json.dumps("powerlaw_4_nfreqs")}],
    }
    chain, _ = hypermodel_sample(spark, res, models, n_samples=64, nfreqs=4, seed=5)
    p = plan(chain, "simple")
    assert "SinglePartition" not in p, p
    assert "Window" in p  # the per-chunk cumsum is still a window, sharded


def test_repeated_ngram_spans_plan_shape(spark, sf001):
    """Span dedup never builds a cartesian: duplicated grams reach documents
    through a left-SEMI equi-join, and the scan reads only doc_id + text."""
    df = REGISTRY["repeated_ngram_spans"].spark(spark, sf001)
    p = plan(df)
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    # every scan reads a subset of {doc_id, text} — never lang/source (the
    # str branch's re-attach pass legitimately reads doc_id alone)
    assert scan and all(
        "lang" not in ln and "source" not in ln and "n_chars" not in ln
        for ln in scan
    ), scan
    assert any("text" in ln for ln in scan)


def test_mixture_resample_is_map_side_filter(spark, sf001):
    """After the (tiny, separate) count aggregate, the sampling plan itself
    is a pure scan+filter: no join, no exchange introduced by the filter."""
    from enterprise_warp_spark.operators.sampling import mixture_resample
    from enterprise_warp_spark.tables import table as _table

    docs = _table(spark, sf001, "documents")
    kept = mixture_resample(
        docs, "lang", {"en": 0.5, "zh": 0.5}, key="doc_id", seed=1
    )
    p = plan(kept)
    assert "Join" not in p and "CartesianProduct" not in p


def test_r5_pipeline_ops_plan_shapes(spark, sf001):
    """Round-5 operators keep their scale-deciding physical shapes:
    BM25 broadcasts the query terms; cap_per_group never plans a global
    Sort (only windowed sorts inside Exchange-partitioned groups);
    shuffle_corpus range-partitions instead of a single-task global sort."""
    from enterprise_warp_spark.operators.sampling import (
        cap_per_group,
        shuffle_corpus,
    )
    from enterprise_warp_spark.pipeline.search import bm25_topk, build_index
    from enterprise_warp_spark.tables import table

    docs = table(spark, sf001, "documents")

    idx = build_index(docs)
    p = plan(bm25_topk(idx, "alpha beta"))
    assert "BroadcastHashJoin" in p  # probe terms + df are broadcast
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    p = plan(cap_per_group(docs, "source", 5, "doc_id"))
    # both ranking phases are Window sorts local to their Exchange
    # partitioning; a global orderBy would appear as a rangepartitioning
    # Exchange feeding a Sort [global=true]
    assert "Window" in p
    assert "Sort [" not in p or "global=true" not in p.split("Sort [", 1)[1][:80]

    p = plan(shuffle_corpus(docs, "doc_id", seed=1))
    assert "rangepartitioning" in p.lower()
    # the sort after range partitioning is per-partition, not global
    for seg in p.split("Sort [")[1:]:
        head = seg[:200]
        assert "global=false" in head or "global=true" not in head


def test_r6_union_gates_plan_shapes(spark, sf001):
    """The two round-6 union gates keep the bucketed-equi-join discipline:
    the ONLY cartesian/nested-loop nodes are the two documented ones — the
    fuzzy join's bounded pass-C product and the PIP broadcast path — and
    the radius/fuzzy candidate generators appear as plain equi-joins."""
    p = plan(REGISTRY["matching_geo_ops"].spark(spark, sf001), "simple")
    # documented exceptions only: pass C (guarded product over <=max_dist
    # strings; Spark may plan the crossJoin as either node) and the
    # broadcast polygon containment join
    assert p.count("CartesianProduct") + p.count("BroadcastNestedLoopJoin") <= 2
    assert "HashJoin" in p or "SortMergeJoin" in p  # cell equi-joins (any
    # equi strategy; at sf0.01 the small sides broadcast)

    p2 = plan(REGISTRY["temporal_curation_ops"].spark(spark, sf001), "simple")
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2


def test_web_hygiene_static_branches_are_jvm_only(spark, sf001):
    """The url/dom/tag hygiene branches are pure Catalyst: no Python
    workers (mapInPandas), no joins of any kind — transform-at-scan-speed
    is their entire 100 TB value proposition. The tok branch is the BPE
    pre-tokenizer (mapInPandas by design) but still join-free; the moj
    branch is Arrow-batched Python (bytes round-trip) and join-free."""
    from enterprise_warp_spark.queries_hygiene import (
        _docs_shared,
        _moj_branch,
        _tag_branch,
        _tok_branch,
        _url_dom_branches,
    )

    docs = _docs_shared(spark, sf001)
    for df in (_url_dom_branches(spark, sf001), _tag_branch(spark, sf001, docs)):
        p = plan(df, "simple")
        assert "Join" not in p and "CartesianProduct" not in p
        assert "InPandas" not in p and "BatchEvalPython" not in p
        # codegen-starred projections (formatted mode marks codegen
        # stages with '* '), read from the EXECUTED plan: before execution
        # the AdaptiveSparkPlan wrapper that spread()'s exchange brings
        # in prints the initial plan without codegen stages
        df.collect()
        pf = plan(df)
        assert "* Project" in pf or "* ColumnarToRow" in pf
        assert "ArrowEvalPython" not in pf
    for branch in (_moj_branch, _tok_branch):
        p = plan(branch(spark, sf001, docs), "simple")
        assert "Join" not in p and "CartesianProduct" not in p


def test_web_hygiene_spl_pairs_are_equi_join(spark, sf001):
    """The split branch's component propagation joins on ids only — never
    a cartesian — and the final label is a map-side hash expression."""
    from enterprise_warp_spark.queries_hygiene import _docs_shared, _spl_branch

    p = plan(_spl_branch(spark, sf001, _docs_shared(spark, sf001)), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_search_rank_ops_plan_shape(spark, sf001):
    """[bm25]/[tfidf]: all scoring joins broadcast the (tiny) query-term /
    df tables; the top-k cut is TakeOrderedAndProject (per-partition heap +
    one merge, never a global single-partition sort of all matched docs);
    the rank window runs AFTER the cut (<=50 rows). [pr]: the rank-flow
    join is an equi-join. No cartesian anywhere, everything JVM-side."""
    p = plan(REGISTRY["search_rank_ops"].spark(spark, sf001))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("TakeOrderedAndProject") >= 4  # inner k + rank cut, x2
    assert p.count("BroadcastHashJoin") >= 6


def test_learned_sketch_ops_plan_shape(spark, sf001):
    """[semd] the only non-equi joins are the tiny centroid broadcast
    fan-outs (corpus x n_cells, the IVF shape — never corpus x corpus);
    the within-cell comparison is the grouped Arrow gram kernel
    (FlatMapGroupsInPandas over cell_id — candidate pairs never
    materialize as Spark rows). [hh] the other Python stages are the
    Misra-Gries partial summaries (Arrow-batched mapInPandas by design).
    No row-at-a-time Python anywhere."""
    p = plan(REGISTRY["learned_sketch_ops"].spark(spark, sf001))
    assert "CartesianProduct" not in p
    # formatted mode prints each node twice (tree + details): 3 nodes = 6 —
    # the two semd centroid fan-outs plus [dds]'s 2-row probs broadcast
    # (rows x tiny-literal-frame, the sanctioned fan-out class; kvx's pair
    # join is checkpointed so its BNLJ never reaches this plan)
    assert p.count("BroadcastNestedLoopJoin") <= 6
    assert p.count("FlatMapGroupsInPandas") <= 2  # the semd gram kernel
    # count MG's MapInPandas without catching FlatMapGroupsInPandas'
    # substring
    assert p.replace("FlatMapGroupsInPandas", "").count("MapInPandas") <= 4
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_k7_feeding_aggregation_plans(spark):
    """K7 plot-sink aggregations: grouped_histogram's per-group stats join
    is a BROADCAST (one row per group), pair_histograms_2d's corner plan is
    pivot + explode + hash aggregate — pure JVM, partial-aggregated
    map-side, no cartesian, no Python eval. These are the only stages that
    ever see the sample table; the rasterizer sees bins only."""
    from enterprise_warp_spark.operators.binning import grouped_histogram
    from enterprise_warp_spark.plotting import pair_histograms_2d

    chains = (
        spark.range(20000)
        .selectExpr(
            "'r' as run_id",
            "cast(id / 4 as int) as step",
            "concat('p', pmod(id, 4)) as par",
            "sin(id) as value",
        )
    )
    p = plan(grouped_histogram(chains, ["run_id", "par"], "value"))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    counts, _ = pair_histograms_2d(chains, ["p0", "p1", "p2", "p3"], bins=30)
    p2 = plan(counts)
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2
    assert "BatchEvalPython" not in p2 and "ArrowEvalPython" not in p2
    assert "HashAggregate" in p2  # partial map-side combine before exchange


def test_r13_branches_are_map_only(spark, sf001):
    """The r13 gate branches keep the binary_meta shape: [mp3] fixture
    construction + census and [uni] unigram encode are pure map chains —
    no shuffle, no join anywhere in either plan (per-document work only,
    the property that makes them free at 100 TB)."""
    from enterprise_warp_spark.queries_hygiene import _docs_shared, _uni_branch

    p = plan(REGISTRY["multimodal_binary_meta"].spark(spark, sf001))
    assert "Exchange" not in p and "Join" not in p, p
    p = plan(_uni_branch(spark, sf001, _docs_shared(spark, sf001)))
    assert "Exchange" not in p and "Join" not in p, p


def test_exact_duplicate_spans_never_single_partition(spark, sf001):
    """The suffix-span resolver's shuffles are all n_parts-wide: no stage
    collapses to SinglePartition (the no-global-window doctrine of
    pipeline/suffix.py, asserted on the [sfx] fixture's final plan) and
    the run resolution reaches applyInPandas via a hash exchange on the
    run id, never a sort-merge over everything."""
    from pyspark.sql import functions as F  # noqa: F401

    docs = spark.createDataFrame(
        [(i, "p q r s t u v w x y z filler " * 2) for i in range(6)],
        ["doc_id", "text"],
    )
    from enterprise_warp_spark.pipeline.suffix import exact_duplicate_spans

    df = exact_duplicate_spans(docs, min_tokens=5, n_parts=8)
    p = plan(df)
    assert "SinglePartition" not in p, p
    assert "CartesianProduct" not in p


def test_cdc_pair_join_plan_shape(spark):
    """The chunk-share pair join holds its 100 TB contract: a hash-bucket
    equi-join (no CartesianProduct, no SinglePartition anywhere in the
    aggregate chain)."""
    import random

    from enterprise_warp_spark.pipeline.cdc import cdc_chunks, chunk_dedup_pairs

    rows = [
        (i, random.Random(400 + i).randbytes(12_000)) for i in range(4)
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    p = plan(chunk_dedup_pairs(cdc_chunks(media)))
    assert "CartesianProduct" not in p, p
    assert "SinglePartition" not in p, p
