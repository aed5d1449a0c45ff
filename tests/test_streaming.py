"""Streaming/batch parity for the sketches, the incremental MinHash index
under empty batches, and the event source's size probe. The streaming
rollup's parity is the catalog's `streaming_hourly_rollup` oracle check."""

from pyspark.sql import functions as F


def test_incremental_filter_empty_batch_never_poisons_index(spark, tmp_path):
    """An empty batch (or one whose survivors are empty) must not leave a
    data-less parquet directory that crashes every later probe (review
    finding: append of an empty frame creates _SUCCESS-only dirs)."""
    import pandas as pd

    from enterprise_warp_spark.pipeline.dedup import incremental_minhash_filter

    idx = str(tmp_path / "band_index")
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = incremental_minhash_filter(empty, idx, update_index=True)
    assert out.count() == 0
    # second batch with real docs: the probe must work, not crash on a
    # schema-less index directory
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a completely different document about spark")],
        "doc_id long, text string",
    )
    out2 = incremental_minhash_filter(docs, idx, update_index=True)
    assert out2.count() == 2
    # and a third batch re-probing the now-real index sees batch-2's bands
    dup = spark.createDataFrame(
        [(3, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    out3 = incremental_minhash_filter(dup, idx, update_index=False)
    assert out3.count() == 0  # near-copy of doc 1 filtered via the index


def test_streaming_ddsketch_equals_batch_sketch(spark, sf_dir):
    """DDSketch under Structured Streaming: because the sketch is a plain
    bucket-count aggregate (mergeable by addition), the streaming build
    over the event stream equals the batch ddsketch_by bit-for-bit — and
    so do the quantile estimates derived from it. Streaming quantiles for
    free, no custom state."""
    import math

    from pyspark.sql import functions as F

    from enterprise_warp_spark.operators.sketches import (
        ddsketch_by,
        ddsketch_quantiles,
    )
    from enterprise_warp_spark.streaming import stream_events
    from enterprise_warp_spark.tables import table

    alpha = 0.02
    gamma = (1 + alpha) / (1 - alpha)
    lg = math.log(gamma)
    sgn = "cast(sign(value) as int)"
    idx = (
        "CASE WHEN value = 0 THEN cast(0 as bigint) "
        f"ELSE cast(ceil(round(ln(abs(value)) / {lg!r}, 6)) as bigint) END"
    )
    q = (
        stream_events(spark, sf_dir)
        .select("event_type", "value")
        .filter(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.expr(sgn).alias("sign"), F.expr(idx).alias("idx")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .writeStream.format("memory")
        .queryName("dds_stream_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("select * from dds_stream_test")
    batch_sk = ddsketch_by(
        table(spark, sf_dir, "events"), "event_type", "value", alpha=alpha
    )
    key = lambda r: (r["event_type"], r["sign"], r["idx"])  # noqa: E731
    assert {key(r): r["c"] for r in streamed.collect()} == {
        key(r): r["c"] for r in batch_sk.collect()
    }
    # quantiles from the streamed sketch == quantiles from the batch sketch
    sq = ddsketch_quantiles(streamed, "event_type", (0.5, 0.95), alpha=alpha)
    bq = ddsketch_quantiles(batch_sk, "event_type", (0.5, 0.95), alpha=alpha)
    pick = lambda df: {  # noqa: E731
        (r["event_type"], r["p"]): (r["rank"], r["est"]) for r in df.collect()
    }
    assert pick(sq) == pick(bq)


def test_streaming_ams_f2_equals_batch(spark, sf_dir):
    """AMS F2 under Structured Streaming: the sketch is a plain sign-sum
    aggregate (mergeable by addition), so ams_f2_by runs UNCHANGED on the
    event stream in complete mode and equals the batch build bit-for-bit
    — exact integer counters, so the median-of-means estimates match
    exactly too (the DDSketch pattern)."""
    from enterprise_warp_spark.operators.sketches import (
        ams_f2_by,
        ams_f2_estimate,
    )
    from enterprise_warp_spark.streaming import stream_events
    from enterprise_warp_spark.tables import table

    q = (
        ams_f2_by(
            stream_events(spark, sf_dir).select("event_type", "value"),
            "event_type",
            "value",
            r=8,
        )
        .writeStream.format("memory")
        .queryName("ams_stream_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("select * from ams_stream_test")
    batch = ams_f2_by(
        table(spark, sf_dir, "events"), "event_type", "value", r=8
    )
    key = lambda r: (r["event_type"], r["j"])  # noqa: E731
    s_rows = {key(r): r["z"] for r in streamed.collect()}
    assert s_rows == {key(r): r["z"] for r in batch.collect()}
    assert len(s_rows) > 0
    se = ams_f2_estimate(streamed, "event_type")
    be = ams_f2_estimate(batch, "event_type")
    pick = lambda df: {  # noqa: E731
        r["event_type"]: r["f2_est"] for r in df.collect()
    }
    assert pick(se) == pick(be)


def test_source_bytes_resolves_non_local_uris(spark, sf_dir):
    """r14 verdict #3: streaming state sizing used os.path.getsize, which
    throws OSError on any non-local URI (hdfs://, s3a://, file:) and
    silently floored a 100 TB stream to 8 state partitions. The Hadoop-FS
    helper must resolve a `file:` URI (the non-local-path semantics we can
    exercise without a cluster) to the real byte size, and degrade to 0 —
    not raise — for a missing path."""
    import os

    from enterprise_warp_spark.streaming.events import _source_bytes

    local = os.path.join(sf_dir, "events.parquet")
    want = os.path.getsize(local)
    assert want > 0
    # scheme-qualified URI: os.path.getsize(uri) raises; Hadoop FS must not
    uri = "file://" + os.path.abspath(local)
    with __import__("pytest").raises(OSError):
        os.path.getsize(uri)
    assert _source_bytes(spark, uri) == want
    # plain local path still works (the bench/driver call shape)
    assert _source_bytes(spark, local) == want
    # directory: recursive content summary, >= the single file
    assert _source_bytes(spark, "file://" + os.path.abspath(sf_dir)) >= want
    # missing path: 0, never an exception (callers floor the count)
    assert _source_bytes(spark, "file:///definitely/not/there") == 0
    assert _source_bytes(spark, "/definitely/not/there") == 0
