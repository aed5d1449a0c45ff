"""Distributed suffix array + adjacent-suffix LCP — EXACT repeated-substring
discovery (the suffix-array instrument of Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better", arXiv:2107.06499), as the exact
complement to pipeline/dedup.py's hash-granularity ExactSubstr family:
n-gram hashing finds spans at a FIXED length; the suffix array yields every
maximal repeat with its exact length.

Construction is Manber–Myers prefix doubling expressed in DataFrame ops,
in its 4-ary form (r14):

    rank_0   = dense rank of the single token at each position
    rank_{k+1}(p) = dense rank of (rank_k(p), rank_k(p + w),
                                   rank_k(p + 2w), rank_k(p + 3w)),
                    w = 4^k
    ... until every rank is unique (early exit), <= ceil(log4 L) + 1
    rounds where L is the longest DOCUMENT (unique per-doc sentinel
    tokens make cross-document comparisons resolve immediately). The
    4-tuple round decides 4x the width per corpus range-shuffle, halving
    the number of blocking ranking rounds vs the binary formulation; the
    extra shift joins ride the same round's plan.

Every global ranking uses the scalable two-pass shape — repartitionByRange,
per-partition local ranks via one Arrow pass, per-partition counts to the
driver (n_partitions rows, metadata scale), broadcast offsets — NEVER a
single-reducer `Window.orderBy` over the corpus. The pair shift
rank_k(p + 2^k) is an equi-join on position. Adjacent-suffix LCPs come
from the level tables the doubling already built: walk k high->low, and
whenever rank_k(a + lcp) == rank_k(b + lcp) the suffixes share 2^k more
tokens (the standard distributed LCP formulation; Kasai's O(n) scan is
inherently sequential). Each 4-ary level's three digit probes (the lcp's
base-4 digits) resolve in ONE join round: the rerank's width-w rank
3-tuple rides the round's checkpoint, so the walk joins each level's
table twice total — 2 joins per level over the n adjacent pairs,
O(n log L) join work, and the all-unique widest level is skipped
outright (r14). The walk carries only (pos_a, pos_b, lcp); doc/idx/rank
attributes re-attach after the walk (and after any min_lcp filter), so
each walk shuffle moves three longs per pair, not the full row (r14).

Scale honesty: each doubling round is one range-shuffle of the position
table plus one join — ~2 log L corpus shuffles end to end. That is the
real cost of EXACT suffix ordering; at 100 TB you run it per shard (the
paper runs single-machine per chunk) and reconcile shard boundaries with
the hash-granularity operators. Not oracle-SQL-expressible (iterative);
correctness is pinned against a brute-force sorted-suffix oracle in
tests/test_suffix.py, the iterative-algorithm precedent (PageRank/BPE).

Reference surface: none (the reference engine has no text pipeline);
SURVEY §2.8 training-data extension.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from enterprise_warp_spark.pipeline.text import TOKENS

# scale-adaptive partitioning target for the doubling rounds: ~2M position
# rows (4 longs each) per range partition keeps partitions in the
# guide-recommended 10s-of-MB..low-100s-of-MB band; the caller's n_parts
# stays the upper bound for genuinely large shards
_ROWS_PER_PART = 2_000_000


def _key_changes(pdf, order_cols: list[str], last: tuple | None):
    """Rows of one batch, sorted by `order_cols` -> (bool array: the row
    starts a new key, the batch's last key). The first row compares with
    `last`, the previous batch's last key. Keys are never null (a null
    would differ from its equal neighbour and count as a new key). Adjacent
    rows are compared as numpy arrays: a `shift()` would turn int64 keys
    into float64 and merge keys that differ beyond 2**53."""
    import pandas as pd

    keys = [pdf[c].to_numpy() for c in order_cols]
    assert not any(pd.isna(k).any() for k in keys), (
        f"dense-rank keys {order_cols} must be non-null"
    )
    changed = np.zeros(len(pdf), dtype=bool)
    for k in keys:
        changed[1:] |= k[1:] != k[:-1]
    changed[0] = tuple(k[0] for k in keys) != last
    return changed, tuple(k[-1] for k in keys)


def _two_pass_dense_rank(
    df: DataFrame, order_cols: list[str], out: str, n_parts: int = 32
) -> DataFrame:
    """Global DENSE rank of rows by `order_cols` without a global window:
    range-partition on the keys (equal keys land in one partition), one
    Arrow pass computes local dense ranks + per-partition distinct counts,
    the n_parts counts cross the driver, and broadcast offsets lift local
    ranks to global. The partitioned frame is checkpointed so both passes
    see the SAME (sampled) range boundaries."""
    out_df, _nd, _n = _two_pass_dense_rank_counted(df, order_cols, out, n_parts)
    return out_df


def _two_pass_dense_rank_counted(
    df: DataFrame, order_cols: list[str], out: str, n_parts: int = 32
) -> tuple[DataFrame, int, int]:
    """_two_pass_dense_rank plus the scalars its driver pass already
    knows: (ranked_df, n_distinct_keys, n_rows). The doubling loop's
    all-ranks-unique early exit reads them for FREE — the per-partition
    totals collect is the same job either way (suffix_array used to pay
    an extra count/max aggregate per round just to rediscover them)."""
    import pandas as pd

    staged = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )

    # per-partition (distinct-keys, rows) WITHOUT an exchange: rows are
    # already sorted by the keys within each partition, so the distinct
    # count is a key-change count in one streaming pass — a narrow
    # mapInPandas collected directly, ONE scheduled job where the former
    # groupBy(__pid) aggregate paid a shuffle that AQE materialized as
    # 2-3 jobs per rank round (r15; guide §2.4)
    def stat_kernel(batches):
        pid = None
        nr = 0
        nd = 0
        last = None
        for pdf in batches:
            if not len(pdf):
                continue
            if pid is None:
                pid = int(pdf["__pid"].iloc[0])
            nr += len(pdf)
            changed, last = _key_changes(pdf, order_cols, last)
            nd += int(changed.sum())
        if pid is not None:
            yield pd.DataFrame({"__pid": [pid], "nd": [nd], "nr": [nr]})

    stats = {
        r["__pid"]: (r["nd"], r["nr"])
        for r in staged.mapInPandas(
            stat_kernel, "__pid int, nd long, nr long"
        ).collect()
    }
    totals = {pid: nd for pid, (nd, _r) in stats.items()}
    n_rows = sum(nr for _d, nr in stats.values())
    offsets = {}
    acc = 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    n_distinct = acc
    spark = df.sparkSession
    b_off = spark.sparkContext.broadcast(offsets)
    out_schema = ", ".join(
        f"{n} {t}" for n, t in staged.dtypes if n != "__pid"
    ) + f", {out} long"

    def kernel(batches):
        # one partition streams through in order: carry the last key and
        # the running local dense rank across batches
        last_key = None
        local = 0
        pid = None
        for pdf in batches:
            if not len(pdf):
                continue
            if pid is None:
                pid = int(pdf["__pid"].iloc[0])
            changed, last_key = _key_changes(pdf, order_cols, last_key)
            ranks = local + np.cumsum(changed)
            local = int(ranks[-1])
            res = pdf.drop(columns=["__pid"]).copy()
            res[out] = ranks + b_off.value.get(pid, 0) - 1
            yield res

    return staged.mapInPandas(kernel, out_schema), n_distinct, n_rows


def corpus_positions(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_parts: int = 32, _total_out: list | None = None,
) -> DataFrame:
    """Documents -> one row per token position:
    (pos global long, doc_id, idx local int, token string), with a unique
    per-document sentinel token appended so no suffix comparison crosses a
    document boundary. Global positions come from a per-document offset
    table (#docs rows) ranked with the same two-pass machinery.

    ``_total_out``, if given, receives the total position count (incl.
    sentinels) — the offset pass's running sum already ends at exactly
    that number, so callers get the corpus size for FREE and can size the
    FIRST doubling round's partitioning before any ranking job runs (the
    suffix_array ``_stats_out`` precedent, one round earlier)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.concat(
            F.expr(TOKENS.format(s=text_col)),
            F.array(F.concat(F.lit("\x00"), F.col(id_col).cast("string"))),
        ).alias("__toks"),
    )
    lens = toks.select("doc_id", F.size("__toks").alias("__n"))
    # per-doc offset = sum of lengths of all docs before it in doc_id
    # order: rank the docs (two-pass, no global window), then one
    # partial-sum pass over the SAME partitioning shape
    import pandas as pd

    staged = (
        lens.repartitionByRange(n_parts, "doc_id")
        .sortWithinPartitions("doc_id")
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # narrow per-partition sums (no exchange — see _two_pass_dense_rank_
    # counted's stat_kernel): one job instead of an AQE-staged groupBy
    def sum_kernel(batches):
        pid = None
        s = 0
        for pdf in batches:
            if not len(pdf):
                continue
            if pid is None:
                pid = int(pdf["__pid"].iloc[0])
            s += int(pdf["__n"].sum())
        if pid is not None:
            yield pd.DataFrame({"__pid": [pid], "s": [s]})

    totals = {
        r["__pid"]: r["s"]
        for r in staged.mapInPandas(
            sum_kernel, "__pid int, s long"
        ).collect()
    }
    offs = {}
    acc = 0
    for pid in sorted(totals):
        offs[pid] = acc
        acc += totals[pid]
    if _total_out is not None:
        _total_out.append(int(acc))
    b_off = staged.sparkSession.sparkContext.broadcast(offs)

    def cumsum(batches):
        run = 0
        pid = None
        for pdf in batches:
            if not len(pdf):
                continue
            if pid is None:
                pid = int(pdf["__pid"].iloc[0])
            starts = []
            for n in pdf["__n"]:
                starts.append(run)
                run += int(n)
            res = pdf.drop(columns=["__pid"]).copy()
            res["__off"] = pd.Series(starts, index=pdf.index) + b_off.value.get(
                pid, 0
            )
            yield res[["doc_id", "__off"]]

    id_type = dict(staged.dtypes)["doc_id"]
    doc_offs = staged.mapInPandas(cumsum, f"doc_id {id_type}, __off long")
    return (
        toks.join(doc_offs, "doc_id")
        .select(
            "doc_id",
            F.posexplode("__toks").alias("idx", "token"),
            F.col("__off"),
        )
        .select(
            (F.col("__off") + F.col("idx")).alias("pos"),
            "doc_id",
            "idx",
            "token",
        )
    )


def suffix_array(
    positions: DataFrame, max_rounds: int = 40, n_parts: int = 32,
    _stats_out: list | None = None, _plan_out: list | None = None,
) -> tuple[DataFrame, list[tuple]]:
    """(pos, token) rows -> (sa, levels):

    sa     = (pos, doc_id, idx, sa_rank) where sa_rank is the suffix's
             index in lexicographic suffix order (dense, 0-based, unique).
    levels = [(width, ranks[, unique])] per doubling level; ranks =
             (pos, r) with r the dense rank of the width-token prefix at
             pos, ENRICHED to (pos, r, r2, r3) — the width-w ranks at
             (pos, pos+w, pos+2w), -1 past the corpus end — for every
             level a later round reranked (the rerank computes the tuple
             anyway; keeping it lets adjacent_lcp fold a level's three
             base-4 digit probes into one join round). The final level
             carries unique=True when the early exit proved its ranks
             all-distinct, so the LCP walk can skip its no-op probe.

    Early-exits as soon as ranks are all-unique (with per-doc sentinels:
    <= ceil(log4 longest_doc) + 1 rounds).

    Partitioning is SCALE-ADAPTIVE past round one: the first two-pass
    rank (at the caller's n_parts cap) learns the position count for
    free, and every later round runs at ceil(n_rows / 2M) partitions
    capped by n_parts — a corpus-sized table keeps the full width, a
    fixture-sized one stops paying 8-32 near-empty range-shuffle tasks
    (and a 1-partition repartitionByRange skips its bounds-sampling job
    entirely). ``_stats_out``, if given, receives (n_rows, eff_parts)
    so callers reuse the adapted width (the global_rank _total_out
    precedent). ``_plan_out``, if given, receives (width, paired_df)
    per doubling round BEFORE the rank pass consumes it — debug-only
    lane evidence for plans that eager checkpoints otherwise hide."""
    ranked_raw, n_distinct, n_rows = _two_pass_dense_rank_counted(
        positions.select("pos", "doc_id", "idx", "token"),
        ["token"],
        "r",
        n_parts,
    )
    eff_parts = max(1, min(n_parts, (n_rows + _ROWS_PER_PART - 1) // _ROWS_PER_PART))
    if _stats_out is not None:
        _stats_out.append((n_rows, eff_parts))
    # ONE materialization per round: the checkpoint; the levels entry is a
    # lazy select over it (a second eager checkpoint of the same rows was
    # pure stage overhead — at small corpora the fixed per-job cost, not
    # the data, dominates the wall clock). When the whole table fits ONE
    # range partition, even that checkpoint is elided (r15): every
    # consumer then re-runs the rank kernel lazily over the two-pass's
    # own staged checkpoint — one extra single-task Arrow pass per
    # consumer vs one blocking eager job per round on the build's
    # critical path. Large shards (recompute = a real corpus pass) keep
    # the eager checkpoint.
    elide_ck = n_rows <= _ROWS_PER_PART

    def _settle(df: DataFrame) -> DataFrame:
        return df if elide_ck else df.localCheckpoint(eager=True)

    ranked = _settle(ranked_raw.select("pos", "doc_id", "idx", "r"))
    levels: list[tuple] = [(1, ranked.select("pos", "r"))]
    width = 1
    doc_t = dict(ranked.dtypes)["doc_id"]
    idx_t = dict(ranked.dtypes)["idx"]
    for _ in range(max_rounds):
        if n_distinct >= n_rows:
            # every rank unique: suffix order is decided. Flag the level —
            # a probe against all-unique ranks can NEVER fire (distinct
            # positions have distinct ranks), so adjacent_lcp skips its
            # two joins outright. Only the early-exit level is provably
            # unique; a max_rounds exhaustion leaves the flag off.
            levels[-1] = (*levels[-1][:2], True)
            break
        # 4-ary doubling (r14): rank the 4-tuple of width-w ranks at
        # (p, p+w, p+2w, p+3w) — lexicographic order of that tuple IS the
        # order of the width-4w prefix, so each round quadruples the
        # decided width. Halves the number of blocking two-pass rank
        # rounds vs classic binary doubling (log4 vs log2). The tuple is
        # assembled by ONE explode -> groupBy fold (r15), not three
        # position self-joins: each (pos, r) row scatters its rank to the
        # four target positions it is a digit of (pos - k*w, slot k), and
        # one hash aggregation per target reassembles (r, r2, r3, r4) —
        # one exchange of 4x skinny rows in place of three join rounds
        # that each shuffled both sides (guide §2.3/§2.4). Positions are
        # globally contiguous 0..n-1 (corpus_positions' cumsum), but
        # foreign targets are dropped by the slot-0 guard, not assumed
        # away: a group with no slot-0 row is a shifted ghost of a
        # position that does not exist. Missing higher slots keep the -1
        # sentinel (shorter suffix sorts first), exactly as the join
        # formulation.
        contrib = ranked.select(
            F.explode(
                F.array(*[
                    F.struct(
                        (F.col("pos") - width * k).alias("p"),
                        F.lit(k).alias("s"),
                        F.col("r").alias("rr"),
                        (
                            F.col("doc_id") if k == 0
                            else F.lit(None).cast(doc_t)
                        ).alias("d"),
                        (
                            F.col("idx") if k == 0
                            else F.lit(None).cast(idx_t)
                        ).alias("i"),
                    )
                    for k in range(4)
                ])
            ).alias("c")
        ).select("c.*").filter(F.col("p") >= 0)
        slot = [
            F.max(F.when(F.col("s") == k, F.col("rr"))) for k in range(4)
        ]
        paired = (
            contrib.groupBy("p")
            .agg(
                F.max(F.when(F.col("s") == 0, F.col("d"))).alias("doc_id"),
                F.max(F.when(F.col("s") == 0, F.col("i"))).alias("idx"),
                slot[0].alias("r"),
                F.coalesce(slot[1], F.lit(-1)).alias("r2"),
                F.coalesce(slot[2], F.lit(-1)).alias("r3"),
                F.coalesce(slot[3], F.lit(-1)).alias("r4"),
            )
            .filter(F.col("r").isNotNull())
            .withColumnRenamed("p", "pos")
        )
        if _plan_out is not None:
            _plan_out.append((width, paired))
        ranked_raw, n_distinct, n_rows = _two_pass_dense_rank_counted(
            paired.select("pos", "doc_id", "idx", "r", "r2", "r3", "r4"),
            ["r", "r2", "r3", "r4"],
            "rn",
            eff_parts,
        )
        # ONE checkpoint per round (elided on single-partition shards, see
        # _settle above), kept 3 longs wider (r, r2, r3 — the width-w rank
        # 3-tuple the rerank already computed): enriching the PREVIOUS
        # level with its own tuple lets adjacent_lcp resolve all three
        # base-4 digit probes of that level in ONE join round (2 joins)
        # instead of three rounds (6 joins) — each walk join is a shuffle
        # of both the pairs table and the level table, so this cuts the
        # LCP walk's shuffle count ~3x for +24 bytes/row of checkpoint
        # (guide §2.4 "remove shuffles outright").
        ck = _settle(
            ranked_raw.select(
                "pos", "doc_id", "idx", "r", "r2", "r3", "rn"
            )
        )
        levels[-1] = (width, ck.select("pos", "r", "r2", "r3"))
        ranked = ck.select("pos", "doc_id", "idx", F.col("rn").alias("r"))
        width *= 4
        levels.append((width, ck.select("pos", F.col("rn").alias("r"))))
    sa = ranked.select("pos", "doc_id", "idx", F.col("r").alias("sa_rank"))
    return sa, levels


def adjacent_lcp(
    sa: DataFrame, levels: list[tuple], min_lcp: int | None = None
) -> DataFrame:
    """Adjacent pairs in suffix order -> their exact LCP in tokens:
    (pos_a, doc_a, idx_a, rank_a, pos_b, doc_b, idx_b, lcp), rank_a being
    the left suffix's sa_rank (consecutive ranks = adjacent pairs, which
    lets exact_duplicate_spans cluster maximal runs). The walk: for levels
    widest-first, if the width-w prefixes at (a + lcp) and (b + lcp) have
    equal rank, the suffixes share w more tokens. Two position-joins per
    level over the n-1 adjacent pairs (enriched levels resolve all three
    base-4 digit probes from one rank-tuple lookup; the flagged
    all-unique widest level is skipped — its probe provably never
    fires). Sentinel tokens are unique per doc, so lcp never counts past
    a document's end (and never includes the sentinel itself: equal-rank
    requires equal tokens).

    The walk itself carries only (pos_a, pos_b, lcp) — three longs —
    through its join rounds; doc ids (possibly wide strings), idx and
    rank_a are re-attached AFTER the walk by two position-joins against
    sa (pos is a unique key, so the attach is row-preserving and
    value-exact). Every walk join shuffles the pairs table, so the
    narrow projection cuts the walk's shuffled bytes by the dropped
    columns times the number of join rounds (guide §2.2 "project
    early").

    min_lcp, when given, filters lcp >= min_lcp BEFORE the attach joins
    (the filter commutes with the attach — it reads only lcp), so a
    caller that keeps only qualifying edges (exact_duplicate_spans)
    attaches attributes to the edge set, not to all n-1 pairs."""
    a = sa.select(
        F.col("pos").alias("pos_a"),
        (F.col("sa_rank") + 1).alias("__nxt"),
    )
    b = sa.select(
        F.col("pos").alias("pos_b"), F.col("sa_rank").alias("__nxt"),
    )
    pairs = a.join(b, "__nxt").drop("__nxt").withColumn("lcp", F.lit(0))
    ordered = sorted(levels, key=lambda t: -t[0])
    prev_width = None
    for entry in ordered:
        width, ranks = entry[0], entry[1]
        # each level may contribute its width SEVERAL times: with k-ary
        # doubling the widths are 1, k, k^2, ... and the lcp's base-k
        # digits run 0..k-1, so a level is probed (next_wider/width - 1)
        # times (binary levels -> once, 4-ary -> three times). The widest
        # level is probed once: all-unique ranks at width W bound every
        # adjacent lcp below W, so a second probe could never fire.
        uses = 1 if prev_width is None else max(1, prev_width // width - 1)
        prev_width = width
        if len(entry) > 2 and entry[2]:
            # all-unique ranks (suffix_array's early-exit proof): the
            # probe compares ranks at DISTINCT positions, so it can never
            # fire — skip its two joins outright (§2.4)
            continue
        if "r2" in ranks.columns and "r3" in ranks.columns:
            # enriched level: one join round resolves up to three digit
            # probes. The three sequential probes of this level are a
            # leading-equal-run count over the width-w blocks at
            # (p+lcp, p+lcp+w, p+lcp+2w): a non-firing probe leaves lcp
            # unchanged and re-evaluates the SAME comparison, so once a
            # block differs no later probe of this level can fire. The
            # tuple at key p+lcp carries exactly those three block ranks
            # (-1 = past the corpus end, matching the legacy walk's
            # missing-row null → no fire).
            ra = ranks.select(
                F.col("pos").alias("__pa"), F.col("r").alias("__ra1"),
                F.col("r2").alias("__ra2"), F.col("r3").alias("__ra3"),
            )
            rb = ranks.select(
                F.col("pos").alias("__pb"), F.col("r").alias("__rb1"),
                F.col("r2").alias("__rb2"), F.col("r3").alias("__rb3"),
            )
            remaining = uses
            while remaining > 0:
                cap = min(3, remaining)
                remaining -= cap
                eq1 = (
                    F.col("__ra1").isNotNull()
                    & F.col("__rb1").isNotNull()
                    & (F.col("__ra1") == F.col("__rb1"))
                )
                eq2 = (
                    F.col("__ra2").isNotNull()
                    & F.col("__rb2").isNotNull()
                    & (F.col("__ra2") != -1)
                    & (F.col("__ra2") == F.col("__rb2"))
                )
                eq3 = (
                    F.col("__ra3").isNotNull()
                    & F.col("__rb3").isNotNull()
                    & (F.col("__ra3") != -1)
                    & (F.col("__ra3") == F.col("__rb3"))
                )
                digit = (
                    F.when(~eq1, F.lit(0))
                    .when(~eq2, F.lit(1))
                    .when(~eq3, F.lit(2))
                    .otherwise(F.lit(3))
                )
                pairs = (
                    pairs.withColumn("__pa", F.col("pos_a") + F.col("lcp"))
                    .withColumn("__pb", F.col("pos_b") + F.col("lcp"))
                    .join(ra, "__pa", "left")
                    .join(rb, "__pb", "left")
                    .withColumn(
                        "lcp",
                        F.col("lcp")
                        + F.lit(width) * F.least(digit, F.lit(cap)),
                    )
                    .drop(
                        "__pa", "__pb", "__ra1", "__ra2", "__ra3",
                        "__rb1", "__rb2", "__rb3",
                    )
                )
            continue
        ra = ranks.select(
            F.col("pos").alias("__pa"), F.col("r").alias("__ra")
        )
        rb = ranks.select(
            F.col("pos").alias("__pb"), F.col("r").alias("__rb")
        )
        for _ in range(uses):
            pairs = (
                pairs.withColumn("__pa", F.col("pos_a") + F.col("lcp"))
                .withColumn("__pb", F.col("pos_b") + F.col("lcp"))
                .join(ra, "__pa", "left")
                .join(rb, "__pb", "left")
                .withColumn(
                    "lcp",
                    F.when(
                        F.col("__ra").isNotNull()
                        & (F.col("__ra") == F.col("__rb")),
                        F.col("lcp") + width,
                    ).otherwise(F.col("lcp")),
                )
                .drop("__pa", "__pb", "__ra", "__rb")
            )
    if min_lcp is not None:
        pairs = pairs.filter(F.col("lcp") >= int(min_lcp))
    attrs_a = sa.select(
        F.col("pos").alias("pos_a"), F.col("doc_id").alias("doc_a"),
        F.col("idx").alias("idx_a"), F.col("sa_rank").alias("rank_a"),
    )
    attrs_b = sa.select(
        F.col("pos").alias("pos_b"), F.col("doc_id").alias("doc_b"),
        F.col("idx").alias("idx_b"),
    )
    return (
        pairs.join(attrs_a, "pos_a")
        .join(attrs_b, "pos_b")
        .select(
            "pos_a", "doc_a", "idx_a", "rank_a",
            "pos_b", "doc_b", "idx_b", "lcp",
        )
    )


def exact_duplicate_spans(
    docs: DataFrame,
    min_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    cross_doc_only: bool = True,
    n_parts: int = 32,
    max_run_members: int | None = None,
    on_oversized: str = "error",
) -> DataFrame:
    """EXACT repeated token spans of >= min_tokens across the corpus ->
    (doc_id, start_tok int, n_tokens int, twin_doc, twin_start): one row
    per token position whose suffix shares a >= min_tokens prefix with a
    suffix of ANOTHER document (any other position when
    cross_doc_only=False), n_tokens being the MAXIMAL such shared length
    and (twin_doc, twin_start) an occurrence achieving it.

    Exactness: LCP(i, j) = min of the adjacent LCPs between i and j in
    suffix order, so qualifying positions are exactly the members of
    maximal RUNS of adjacent suffixes with lcp >= min_tokens, and the
    per-member maximum is a path-min maximized over admissible targets.
    Runs are clustered by consecutive sa_rank (gaps-and-islands over the
    filtered edge table, two-pass rank — no global window) and each run
    is resolved by a linear two-directional sweep keeping the best two
    path-min candidates from DISTINCT documents (the classic top-2 trick:
    all candidate values decay through the same edge-min, so order among
    live candidates never changes and two distinct-doc slots dominate any
    evicted one). A run's rows stay on one worker — run length equals the
    duplication multiplicity of its span, the same skew any ExactSubstr
    clustering carries.

    cross_doc_only=False also reports repeats within one document
    (self-plagiarism/boilerplate): the admissibility test drops the
    different-doc requirement, everything else is identical.

    max_run_members (r13 verdict #7): the documented pathology made
    enforceable — a span repeated N times forms one N-member run resolved
    on one worker (fixed costs dominate to ~4k multiplicity, PERF.md r13;
    ~1e8-member runs are the wall). The bound is enforced BEFORE the
    per-run shuffle via a map-side-combined count, so the oversized
    run's rows are never collected onto one worker: it either fails
    LOUD at plan time (on_oversized='error', the offending multiplicity
    in the message) or is dropped from the exact path
    (on_oversized='drop') — only sound inside a composition whose
    hash-granularity backstop still removes the span, which is exactly
    how strip_exact_duplicate_spans_sharded routes it."""
    if on_oversized not in ("error", "drop"):
        raise ValueError(
            f"on_oversized must be 'error' or 'drop', got {on_oversized!r}"
        )
    totals: list = []
    pos = corpus_positions(docs, text_col, id_col, n_parts, _total_out=totals)
    # round ONE of the doubling is sized from the token total the offset
    # pass already computed (r15): previously only rounds 2+ adapted,
    # leaving the first — and largest-constant — rank round at the
    # caller's full n_parts even for fixture-sized shards (a 1-partition
    # repartitionByRange also skips its bounds-sampling job outright).
    n1 = n_parts
    if totals:
        n1 = max(
            1, min(n_parts, (totals[0] + _ROWS_PER_PART - 1) // _ROWS_PER_PART)
        )
    stats: list = []
    sa, levels = suffix_array(pos, n_parts=n1, _stats_out=stats)
    eff_parts = stats[0][1] if stats else n1
    edges = adjacent_lcp(sa, levels, min_lcp=min_tokens)
    # gaps-and-islands: consecutive rank_a values = one run; the edge
    # table is strictly smaller than the position table, so the adapted
    # width from the doubling rounds is an upper bound here too
    edges = _two_pass_dense_rank(
        edges.select(
            "rank_a", "doc_a", "idx_a", "doc_b", "idx_b", "lcp"
        ),
        ["rank_a"],
        "__eidx",
        eff_parts,
    ).withColumn("__run", F.col("rank_a") - F.col("__eidx"))
    id_type = dict(edges.dtypes)["doc_a"]
    out_schema = (
        f"{id_col} {id_type}, start_tok int, n_tokens int, "
        f"twin_doc {id_type}, twin_start int"
    )
    cross = bool(cross_doc_only)
    min_t = int(min_tokens)
    inf = 1 << 62
    max_run = int(max_run_members) if max_run_members is not None else None
    oversized_err = on_oversized == "error"

    if max_run is not None:
        # enforce BEFORE the per-run shuffle: a count aggregate uses
        # map-side partial combine, so no worker ever materializes an
        # oversized run's rows (the whole point of the bound — checking
        # inside applyInPandas would OOM during Arrow group collection
        # before any guard code ran)
        sizes = edges.groupBy("__run").agg(F.count("*").alias("__n"))
        oversized = sizes.filter(F.col("__n") + 1 > max_run)
        if oversized_err:
            hit = oversized.orderBy(F.desc("__n")).take(1)
            if hit:
                raise ValueError(
                    f"exact_duplicate_spans: run of {int(hit[0]['__n']) + 1} "
                    f"members exceeds max_run_members={max_run} (a span "
                    "repeated that many times resolves on one worker); "
                    "raise the bound or route through "
                    "strip_exact_duplicate_spans_sharded, whose hash-"
                    "granularity backstop covers dropped runs"
                )
        else:
            edges = edges.join(
                oversized.select("__run"), "__run", "left_anti"
            )

    def resolve_run(pdf):
        import pandas as pd

        pdf = pdf.sort_values("rank_a")
        member_doc = list(pdf["doc_a"]) + [pdf["doc_b"].iloc[-1]]
        member_idx = [int(v) for v in pdf["idx_a"]] + [
            int(pdf["idx_b"].iloc[-1])
        ]
        lcps = [int(v) for v in pdf["lcp"]]
        k = len(member_doc)
        best = [(0, None, None)] * k

        def sweep(forward):
            order = range(k) if forward else range(k - 1, -1, -1)
            top = []  # [(path_min, doc, start)] desc, distinct docs, <=2
            for step, t in enumerate(order):
                d = member_doc[t]
                for v, td, ti in top:
                    if (not cross) or td != d:
                        if v > best[t][0]:
                            best[t] = (v, td, ti)
                        break
                top = [e for e in top if e[1] != d]
                top.append((inf, d, member_idx[t]))
                top.sort(key=lambda e: -e[0])
                top = top[:2]
                if step < k - 1:
                    e = lcps[t] if forward else lcps[t - 1]
                    top = [(min(v, e), td, ti) for v, td, ti in top]

        sweep(True)
        sweep(False)
        rows = [
            (member_doc[t], member_idx[t], best[t][0], best[t][1],
             best[t][2])
            for t in range(k)
            if best[t][0] >= min_t and best[t][1] is not None
        ]
        return pd.DataFrame(
            rows,
            columns=[id_col, "start_tok", "n_tokens", "twin_doc",
                     "twin_start"],
        )

    return edges.groupBy("__run").applyInPandas(resolve_run, out_schema)


def exact_duplicate_spans_sharded(
    docs: DataFrame,
    n_shards: int,
    min_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    cross_doc_only: bool = True,
    max_run_members: int | None = None,
    on_oversized: str = "error",
) -> DataFrame:
    """The 100 TB recipe, executable: hash-partition documents into
    n_shards, build each shard's suffix array independently (peak state
    = one shard's position table, the bound that makes corpus-scale
    suffix sorting tractable — the suffix-array dedup paper runs
    per-chunk the same way), and union the per-shard span tables.

    Coverage contract: every repeat whose occurrences share a shard is
    found exactly; CROSS-shard repeats are missed by construction —
    reconcile those with the hash-granularity operators (MinHash /
    repeated_ngram_spans), which are shard-free. Same schema as
    exact_duplicate_spans."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    spans = None
    shard_of = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    for s in range(n_shards):
        part = exact_duplicate_spans(
            docs.filter(shard_of == s),
            min_tokens, text_col, id_col, cross_doc_only,
            max_run_members=max_run_members, on_oversized=on_oversized,
        )
        spans = part if spans is None else spans.unionByName(part)
    return spans


def strip_exact_duplicate_spans_sharded(
    docs: DataFrame,
    n_shards: int,
    min_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    cross_doc_only: bool = True,
    max_run_members: int | None = None,
) -> DataFrame:
    """The 100 TB ExactSubstr strip with the cross-shard backstop COMPOSED
    IN (the contract exact_duplicate_spans_sharded documents, as one
    call): per-shard suffix arrays remove every repeat whose occurrences
    share a shard at EXACT maximal granularity, and the shard-free
    hash-granularity pass (pipeline/dedup.py repeated_ngram_spans at
    k = min_tokens) covers the repeats that straddle shard boundaries —
    so no >= min_tokens cross-document repeat survives anywhere.

    The backstop is occurrence-count based (>= 2 anywhere in the corpus),
    so with cross_doc_only=True it may ALSO remove a span repeated only
    within one document — removal-side conservatism, the right direction
    for dedup. -> (doc_id, cleaned_text, n_removed_tokens).

    max_run_members (r13 verdict #7): caps the single-worker run-resolver
    skew — a run bigger than the bound is DROPPED from the exact path
    (on_oversized='drop'), which is sound precisely here: the composed
    hash-granularity backstop removes every >= min_tokens repeat with
    >= 2 occurrences regardless, so a high-multiplicity span still comes
    out of every document, just at hash granularity instead of maximal
    granularity."""
    from enterprise_warp_spark.pipeline.dedup import (
        _strip_spans,
        repeated_ngram_spans,
    )

    named = docs if id_col == "doc_id" else docs.withColumnRenamed(
        id_col, "doc_id"
    )
    exact = exact_duplicate_spans_sharded(
        named, n_shards, min_tokens, text_col, "doc_id", cross_doc_only,
        max_run_members=max_run_members, on_oversized="drop",
    ).select(
        "doc_id",
        (F.col("start_tok") + 1).alias("span_start"),
        (F.col("start_tok") + F.col("n_tokens")).alias("span_end"),
    )
    back = repeated_ngram_spans(
        named, text_col, k=min_tokens, min_count=2
    ).select("doc_id", "span_start", "span_end")
    out = _strip_spans(named, exact.unionByName(back), text_col)
    return out if id_col == "doc_id" else out.withColumnRenamed(
        "doc_id", id_col
    )


