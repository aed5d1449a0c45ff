"""enterprise_warp_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ``bvgoncharov/enterprise_warp`` (reference repo,
read-only mirror at ``/root/reference``), re-designed Spark-first.

The reference is a configuration-driven batch analytics pipeline for
pulsar-timing-array data (SURVEY.md §0). This package re-expresses its data
model (§1), operator inventory (§2) and query lifecycle (§3) as declarative
DataFrame/SQL plans that Catalyst can optimize, plus Arrow-batched pandas-UDF
kernels for the per-pulsar linear-algebra likelihood (§2.6 F10/F12).

Layout:
    session     SparkSession factory (AQE, Arrow, UTC timezone)
    worker_daemon  the Python worker daemon of get_spark sessions
    tables      testdata/parquet table loaders
    sources/    .tim/.par/json/chain text scans (SURVEY §2.1)
    operators/  relational operator library (SURVEY §2.2-2.5)
    functions/  deterministic column math F1-F9/F11/F15-F16 (SURVEY §2.6)
    analytics/  chain analytics + optimal statistic (results.py semantics)
    likelihood/ GP-marginalized likelihood kernel + sample-parallel inference
    plans/      config front-end: paramfile / noise-model registry dispatch
    pipeline/   LLM-data-pipeline extensions: dedup (exact/MinHash/SimHash/
                incremental index/transitive clusters), similarity (ANN),
                text + repetition metrics, media codecs + multimodal
                fingerprints, MP3 metadata, curation, packing/chunking,
                decontamination, LM perplexity, redaction
    streaming/  Structured Streaming surface: the events table as a stream,
                dedup'd corpus ingest
    maintenance partition upsert / SCD2 history for parquet tables
"""

__version__ = "0.1.0"


def __getattr__(name):
    """get_spark and the table helpers import pyspark, so they load on first
    use: a get_spark session's Python workers run this file before their
    daemon (worker_daemon) has set the path pyspark imports from."""
    if name == "get_spark":
        from enterprise_warp_spark.session import get_spark

        return get_spark
    if name in ("load_tables", "save_snapshot", "write_bucketed"):
        from enterprise_warp_spark import tables

        return getattr(tables, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def run_inference(*args, **kwargs):
    """§3.1 entry point (lazy import; see likelihood.inference)."""
    from enterprise_warp_spark.likelihood.inference import run_inference as fn

    return fn(*args, **kwargs)


def run_adaptive_inference(*args, **kwargs):
    """§3.1 with CEM refinement (lazy import)."""
    from enterprise_warp_spark.likelihood.inference import run_adaptive_inference as fn

    return fn(*args, **kwargs)


def run_results_pipeline(*args, **kwargs):
    """§3.2 entry point (lazy import; see analytics.results_pipeline)."""
    from enterprise_warp_spark.analytics.results_pipeline import run_results_pipeline as fn

    return fn(*args, **kwargs)


def curate_corpus(*args, **kwargs):
    """Training-data curation pipeline (lazy import; see pipeline.curate)."""
    from enterprise_warp_spark.pipeline.curate import curate_corpus as fn

    return fn(*args, **kwargs)
