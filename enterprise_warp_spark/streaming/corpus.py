"""Streaming corpus construction: continuous near-dup-free ingestion.

Each micro-batch of arriving documents is probed against the persisted
MinHash band index (pipeline.dedup.incremental_minhash_filter), survivors
are appended to the corpus parquet, and their bands join the index — so a
document that streamed in an hour ago already filters today's near-copies.

foreachBatch is the right tool: the dedup is a batch join against mutable
external state (the band index), which no built-in streaming operator
expresses. dropDuplicatesWithinWatermark handles EXACT ids inside the
watermark horizon; this handles NEAR duplicates across the corpus lifetime.

Delivery semantics: foreachBatch is at-least-once for external writes; the
batch body makes every replay converge to the exactly-once outcome because
BOTH writes are epoch-keyed dynamic-partition OVERWRITES and the probe
EXCLUDES the batch's own epoch:

  (1) probe the index with `exclude_epoch=epoch_id` — so a replay after
      ANY partial index write (including a committer that exposes task
      output mid-job) recomputes exactly the same survivors; its own
      half-visible bands can never suppress its own documents;
  (2) overwrite the corpus partition `__epoch=<id>` (idempotent);
  (3) overwrite the index partitions `(__epoch=<id>, band_id=*)`
      (idempotent — a replay rewrites the same band partitions because the
      survivor set is identical by (1)).

Any crash point therefore replays to the identical final state: no
appended duplicates, and no lost documents — the failure mode of an
append-based index, where a replay could see its own partial bands as
'corpus', drop those documents from the survivors, and then overwrite the
epoch's corpus partition without them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def dedup_corpus_stream(
    stream_docs: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    transform=None,
) -> StreamingQuery:
    """Start the streaming dedup-ingest: micro-batches of (doc_id, text, ...)
    are near-dup-filtered against everything already ingested, survivors
    written to `corpus_path` (epoch-partitioned, replay-idempotent — see the
    module docstring for the crash analysis). availableNow drains the source
    then stops — swap the trigger for continuous ingestion.

    `transform` (optional, DataFrame -> DataFrame) runs on each raw batch
    BEFORE dedup — the hook where crawl hygiene composes into the stream
    (pipeline.html.strip_tags_catalyst, weburl.repair_mojibake,
    tokenizer.encode_corpus, ...). It MUST be deterministic (a pure
    function of the batch), or crash replays would write different rows
    into the same epoch partition and break the idempotence contract."""
    from enterprise_warp_spark.maintenance import upsert_partitions
    from enterprise_warp_spark.pipeline.dedup import (
        incremental_minhash_filter,
        minhash_bands,
    )

    def _one_batch(batch: DataFrame, epoch_id: int) -> None:
        if transform is not None:
            batch = transform(batch)
        # 1. probe, ignoring this epoch's own (possibly partially written)
        # bands — deterministic across replays by construction
        survivors = incremental_minhash_filter(
            batch,
            index_path,
            text_col=text_col,
            update_index=False,
            exclude_epoch=int(epoch_id),
        )
        # 2. idempotent corpus write: replays overwrite their own epoch.
        # Materialize the survivor set ONCE (r14): the emptiness probe,
        # the corpus write and the band derivation below all consume it —
        # unmaterialized, the whole batch dedup (minhash + index
        # anti-join) re-executed for each of the three.
        tagged = survivors.withColumn(
            "__epoch", F.lit(int(epoch_id))
        ).localCheckpoint(eager=True)
        if tagged.take(1):  # empty overwrite would be a no-op anyway; skip IO
            upsert_partitions(tagged, corpus_path, ["__epoch"])
        # 3. idempotent index write: the survivors' bands overwrite this
        # epoch's (__epoch, band_id) partitions — a replay rewrites the
        # same set, never appends duplicates
        bands = (
            minhash_bands(tagged.drop("__epoch"), text_col)
            .withColumn("__epoch", F.lit(int(epoch_id)))
            .localCheckpoint(eager=True)
        )
        if bands.take(1):  # appending nothing must not create a data-less dir
            upsert_partitions(bands, index_path, ["__epoch", "band_id"])
            batch.sparkSession.catalog.refreshByPath(index_path)

    return (
        stream_docs.writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


