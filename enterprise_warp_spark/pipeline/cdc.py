"""Content-defined chunking (CDC) dedup for binary media columns.

Hash-granularity dedup (pipeline/dedup.py) catches byte-identical blobs;
perceptual fingerprints (pipeline/multimodal.py) catch visually/aurally
similar media. This module covers the storage-level middle ground: blobs
that share MOST of their bytes but not all — the same file re-saved with a
prepended header, truncated, or with metadata edited. The tool is the
deduplicating-storage standard: split every payload at content-defined
boundaries (a rolling gear hash, the FastCDC/LBFS family — Xia et al.
2016, Muthitacharoen et al. 2001), hash each chunk, and join on chunk
hashes. Because boundaries depend only on a 64-byte rolling window of
CONTENT (not offsets), inserting bytes at the front of a file re-syncs the
chunking within one chunk — the shared tail still produces identical
chunk hashes. Large payloads are hashed in bounded-memory segments (the
64-byte window means each segment needs only 63 bytes of left context),
so a multi-GB video blob never materializes a 16x-payload hash array on
an executor.

Spark shape (the 100 TB contract):

- ``cdc_chunks`` is MAP-ONLY (``mapInPandas`` over payload batches, no
  shuffle): each executor chunks its own payloads; the rolling hash is
  vectorized in numpy (the gear recurrence h_i = sum_{k<64} g[b_{i-k}]
  << k is a 64-tap convolution — 64 vectorized passes, no per-byte
  Python).
- ``chunk_dedup_pairs`` is an inverted-index equi-join on ``chunk_hash``
  (the n-gram-Jaccard shape): candidates only ever meet inside a chunk-
  hash bucket, never all-pairs, and ubiquitous chunks (zero blocks,
  shared headers) are dropped by a document-frequency cap first — the
  stop-chunk filter, exactly the hot-shingle treatment MinHash gets.
- ``chunk_savings`` is one aggregate: the dedup ratio a content-
  addressed store would achieve on the corpus.

No external chunker is involved; the gear table is derived from md5 so
chunk boundaries are portable and deterministic everywhere.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _gear_table():
    """256 deterministic uint64 gear values (md5-derived, no RNG)."""
    import numpy as np

    vals = [
        int.from_bytes(
            hashlib.md5(f"ews-cdc-gear-{b}".encode()).digest()[:8], "big"
        )
        for b in range(256)
    ]
    return np.array(vals, dtype=np.uint64)


_GEAR = None


def _gear():
    global _GEAR
    if _GEAR is None:
        _GEAR = _gear_table()
    return _GEAR


def gear_hashes(data) -> "object":
    """Rolling gear hash at every byte position, vectorized.

    The classic per-byte recurrence h = (h << 1) + gear[b] (mod 2^64)
    makes h_i = sum_{k=0}^{63} gear[b_{i-k}] << k — contributions older
    than 64 bytes shift out of the word. That windowed form is a 64-tap
    convolution, computed here as 64 vectorized adds instead of a
    per-byte Python loop."""
    import numpy as np

    b = np.frombuffer(data, dtype=np.uint8)
    g = _gear()[b]
    h = np.zeros(len(b), dtype=np.uint64)
    for k in range(64):
        if k == 0:
            h += g
        else:
            h[k:] += g[:-k] << np.uint64(k)
    return h


_SEGMENT = 1 << 23  # bytes of payload hashed per vectorized pass


def _hash_dtype(bits: int):
    import numpy as np

    return np.uint16 if bits <= 16 else np.uint32 if bits <= 32 else np.uint64


_NARROW = {}


def _narrow_gear(dtype):
    key = dtype().dtype.str
    if key not in _NARROW:
        _NARROW[key] = _gear().astype(dtype)
    return _NARROW[key]


def _low_hashes(data: bytes, bits: int):
    """Low `bits` bits of the rolling gear hash at every position.

    Exact shortcut: h_i = sum_k g[b_{i-k}] << k (mod 2^64), and an
    addend shifted by k has zero low-k bits while addition carries only
    propagate UPWARD — so (h_i mod 2^bits) depends only on the taps
    k < bits. Boundary detection (h & mask == 0, mask = 2^bits - 1)
    therefore needs a bits-tap convolution in the narrowest unsigned
    dtype holding `bits` bits, not the full 64 taps in uint64: ~6x less
    work and 4x narrower arithmetic at the default avg_size=1024."""
    import numpy as np

    taps = min(bits, 64)
    dtype = _hash_dtype(bits)
    b = np.frombuffer(data, dtype=np.uint8)
    g = _narrow_gear(dtype)[b]  # wraps mod 2^width, exact for low bits
    h = g.copy()
    # in-place shift-into-scratch keeps each pass at pure streaming reads/
    # writes (no fresh temporaries) — the loop is memory-bandwidth bound
    tmp = np.empty(len(b), dtype=dtype)
    for k in range(1, taps):
        rest = len(b) - k
        if rest <= 0:
            break
        np.left_shift(g[:rest], dtype(k), out=tmp[:rest])
        h[k:] += tmp[:rest]
    return h


def _boundary_candidates(payload: bytes, bits: int, segment_bytes: int):
    """Positions whose rolling hash has the low `bits` bits zero, in
    BOUNDED memory. A whole-payload hash array costs bytes-per-element x
    payload: fine for documents, a multi-GB spike for a large video
    blob. The low-bits hash at position i depends only on bytes
    (i - taps + 1 .. i), so each segment is hashed with taps-1 bytes of
    left context and only the candidate POSITIONS (about n/avg_size of
    them) are kept — peak memory is a few x segment_bytes regardless of
    payload size."""
    import numpy as np

    mask = _hash_dtype(bits)((1 << min(bits, 64)) - 1)
    n = len(payload)
    if n <= segment_bytes:
        h = _low_hashes(payload, bits)
        return np.nonzero((h & mask) == 0)[0]
    ctx_len = min(bits, 64) - 1
    out = []
    start = 0
    while start < n:
        end = min(start + segment_bytes, n)
        ctx = min(start, ctx_len)
        h = _low_hashes(payload[start - ctx : end], bits)
        idx = np.nonzero((h[ctx:] & mask) == 0)[0]
        if idx.size:
            out.append(idx + start)
        start = end
    return (
        np.concatenate(out) if out else np.empty(0, dtype=np.int64)
    )


def cdc_chunk_bytes(
    payload: bytes,
    min_size: int = 256,
    avg_size: int = 1024,
    max_size: int = 4096,
    segment_bytes: int = _SEGMENT,
) -> list[tuple[int, int, str]]:
    """One payload -> [(offset, length, chunk_hash)]. A boundary is a
    position whose rolling hash has log2(avg_size) low zero bits, subject
    to the min/max size clamps (min skips boundaries too close to the
    previous cut; max forces a cut — the LBFS rule)."""
    if not payload:
        return []
    if not min_size <= avg_size <= max_size:
        raise ValueError(
            f"need min_size <= avg_size <= max_size, got "
            f"({min_size}, {avg_size}, {max_size})"
        )
    if segment_bytes <= 63:
        raise ValueError(
            f"segment_bytes must exceed the 64-byte window, got {segment_bytes}"
        )
    bits = max(int(avg_size).bit_length() - 1, 1)
    candidates = _boundary_candidates(payload, bits, segment_bytes)
    chunks: list[tuple[int, int, str]] = []
    start = 0
    n = len(payload)
    ci = 0
    while start < n:
        cut = min(start + max_size, n)
        # first candidate boundary yielding a chunk of >= min_size bytes
        # (a candidate at start + min_size - 1 cuts AFTER itself, giving
        # exactly min_size — legal, so the skip threshold is min_size - 1)
        while ci < len(candidates) and candidates[ci] < start + min_size - 1:
            ci += 1
        if ci < len(candidates) and candidates[ci] < cut:
            cut = int(candidates[ci]) + 1  # cut AFTER the boundary byte
        piece = payload[start:cut]
        chunks.append(
            (start, len(piece), hashlib.blake2b(piece, digest_size=8).hexdigest())
        )
        start = cut
    return chunks


def cdc_chunks(
    media: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    min_size: int = 256,
    avg_size: int = 1024,
    max_size: int = 4096,
) -> DataFrame:
    """Binary column -> chunk table (id, chunk_idx, offset, length,
    chunk_hash). MAP-ONLY: upstream partitioning preserved, no shuffle;
    at 100 TB every executor chunks only its own payload bytes."""
    id_type = dict(media.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, chunk_idx int, offset long, length long, "
        "chunk_hash string"
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            ids, idxs, offs, lens, hs = [], [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                for i, (off, ln, hx) in enumerate(
                    cdc_chunk_bytes(bytes(payload), min_size, avg_size,
                                    max_size)
                ):
                    ids.append(mid)
                    idxs.append(i)
                    offs.append(off)
                    lens.append(ln)
                    hs.append(hx)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "chunk_idx": idxs,
                    "offset": offs,
                    "length": lens,
                    "chunk_hash": hs,
                }
            )

    return media.select(id_col, payload_col).mapInPandas(kernel, schema)


def chunk_dedup_pairs(
    chunks: DataFrame,
    min_shared: int = 2,
    id_col: str = "media_id",
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Media pairs sharing >= min_shared distinct chunk hashes ->
    (media_a, media_b, shared_chunks, shared_bytes), media_a < media_b.

    Inverted-index equi-join: per-(id, hash) dedup first, then hashes
    seen in more than max_doc_freq media are dropped before the join —
    a ubiquitous chunk (zero block, format header) would otherwise form
    a quadratic bucket, the exact hot-band hazard MinHash salting
    addresses; for dedup, a chunk shared by everyone identifies nobody."""
    per = (
        chunks.groupBy(id_col, "chunk_hash")
        .agg(F.max("length").alias("length"))
    )
    if max_doc_freq is not None:
        hot = (
            per.groupBy("chunk_hash")
            .count()
            .filter(F.col("count") > max_doc_freq)
            .select("chunk_hash")
        )
        per = per.join(hot, "chunk_hash", "left_anti")
    a = per.select(
        F.col("chunk_hash"),
        F.col(id_col).alias("media_a"),
        F.col("length").alias("len_a"),
    )
    b = per.select(
        F.col("chunk_hash"),
        F.col(id_col).alias("media_b"),
        F.col("length").alias("len_b"),
    )
    return (
        a.join(b, "chunk_hash")
        .filter(F.col("media_a") < F.col("media_b"))
        .groupBy("media_a", "media_b")
        .agg(
            F.count("*").alias("shared_chunks"),
            F.sum(F.least("len_a", "len_b")).alias("shared_bytes"),
        )
        .filter(F.col("shared_chunks") >= min_shared)
    )


def chunk_savings(chunks: DataFrame) -> DataFrame:
    """Corpus dedup ratio for a content-addressed chunk store: one row
    (total_bytes, unique_bytes, dedup_ratio). unique_bytes counts each
    distinct chunk_hash once (its max length — identical hashes at
    different lengths would be a hash collision, kept conservative)."""
    uniq = chunks.groupBy("chunk_hash").agg(F.max("length").alias("length"))
    total = chunks.agg(F.sum("length").alias("total_bytes"))
    unique = uniq.agg(F.sum("length").alias("unique_bytes"))
    return total.crossJoin(unique).select(
        "total_bytes",
        "unique_bytes",
        (F.col("total_bytes") / F.col("unique_bytes")).alias("dedup_ratio"),
    )
