"""Structured Streaming surface (north-star extension; the reference is
pure batch — SURVEY §2.7): the events table as a stream and the dedup'd
corpus stream."""

from enterprise_warp_spark.streaming.events import stream_events  # noqa: F401
