"""Content-defined chunking dedup (pipeline/cdc.py) — gear-hash CDC vs a
per-byte reference implementation, the insertion-resync property that
justifies CDC over fixed-size blocks, and the chunk-hash join operators."""

import hashlib
import random

import pytest

from enterprise_warp_spark.pipeline.cdc import (
    cdc_chunk_bytes,
    cdc_chunks,
    chunk_dedup_pairs,
    chunk_savings,
    gear_hashes,
)


def _blob(seed: int, n: int) -> bytes:
    return random.Random(seed).randbytes(n)


def test_gear_hash_matches_per_byte_reference():
    """The vectorized 64-tap convolution must equal the classic per-byte
    recurrence h = ((h << 1) + gear[b]) mod 2^64 at every position."""
    from enterprise_warp_spark.pipeline.cdc import _gear

    data = _blob(1, 4096)
    g = _gear()
    h = 0
    want = []
    for b in data:
        h = ((h << 1) + int(g[b])) & 0xFFFFFFFFFFFFFFFF
        want.append(h)
    got = gear_hashes(data)
    assert [int(x) for x in got] == want


def test_chunks_partition_payload_and_respect_bounds():
    payload = _blob(2, 50_000)
    chunks = cdc_chunk_bytes(payload, min_size=256, avg_size=1024,
                             max_size=4096)
    # chunks tile the payload exactly
    pos = 0
    for off, ln, hx in chunks:
        assert off == pos
        assert hashlib.blake2b(
            payload[off : off + ln], digest_size=8
        ).hexdigest() == hx
        pos = off + ln
    assert pos == len(payload)
    # size bounds hold for every chunk but the final remainder
    for off, ln, hx in chunks[:-1]:
        assert 256 <= ln <= 4096
    assert chunks[-1][1] <= 4096
    # boundaries are content-defined: average near avg_size
    mean = len(payload) / len(chunks)
    assert 512 < mean < 4096
    # determinism
    assert cdc_chunk_bytes(payload, 256, 1024, 4096) == chunks
    # degenerate inputs
    assert cdc_chunk_bytes(b"") == []
    with pytest.raises(ValueError):
        cdc_chunk_bytes(payload, min_size=2048, avg_size=1024)


def test_low_bits_shortcut_matches_full_hash():
    """Boundary detection uses a bits-tap narrow-dtype convolution; it
    must flag EXACTLY the positions where the full 64-tap uint64 hash
    has the low bits zero (an addend shifted by k has zero low-k bits
    and carries only move upward, so the low bits see only taps
    k < bits). Pinned across dtype tiers (uint16/uint32/uint64)."""
    import numpy as np

    from enterprise_warp_spark.pipeline.cdc import _boundary_candidates

    data = _blob(12, 100_000)
    full = gear_hashes(data)
    for bits in (4, 10, 16, 17, 33):
        mask = np.uint64((1 << bits) - 1)
        want = np.nonzero((full & mask) == 0)[0]
        for seg in (1 << 23, 4096):
            got = _boundary_candidates(data, bits, seg)
            assert np.array_equal(got, want), (bits, seg)


def test_segmented_hashing_is_bit_identical():
    """Bounded-memory segmented hashing (the 100 TB guard for multi-GB
    blobs: peak memory is 16x segment_bytes, not 16x payload) must cut
    at exactly the same boundaries as the single-pass path — including
    segment sizes that are not multiples of the 64-byte window and a
    segment edge landing mid-window."""
    payload = _blob(11, 200_000)
    whole = cdc_chunk_bytes(payload)
    for seg in (4096, 1000, 64, 65, 199_999):
        assert cdc_chunk_bytes(payload, segment_bytes=seg) == whole, seg
    with pytest.raises(ValueError):
        cdc_chunk_bytes(payload, segment_bytes=63)


def test_insertion_resyncs_chunking():
    """THE CDC property: prepending bytes re-syncs within ~one chunk, so
    the shared tail yields identical chunk hashes — fixed-size blocks
    would lose every block after the insertion point."""
    payload = _blob(3, 60_000)
    shifted = _blob(99, 13) + payload
    h1 = {h for _, _, h in cdc_chunk_bytes(payload)}
    h2 = {h for _, _, h in cdc_chunk_bytes(shifted)}
    shared = len(h1 & h2) / len(h1)
    assert shared > 0.9, shared


def test_chunking_invariants_fuzz():
    """Property fuzz (pure Python, no Spark): for arbitrary payloads and
    any valid (min, avg, max, segment) parameters, chunks tile the
    payload exactly, respect the size bounds, self-verify their hashes,
    and are independent of the segmentation."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        payload=st.binary(min_size=0, max_size=30_000),
        min_size=st.sampled_from([16, 64, 256]),
        avg_mult=st.sampled_from([1, 4, 8]),
        max_mult=st.sampled_from([1, 2, 16]),
        segment=st.integers(64, 5_000),
    )
    @settings(max_examples=60, deadline=None)
    def prop(payload, min_size, avg_mult, max_mult, segment):
        avg = min_size * avg_mult
        mx = avg * max_mult
        chunks = cdc_chunk_bytes(payload, min_size, avg, mx)
        pos = 0
        for off, ln, hx in chunks:
            assert off == pos
            assert (
                hashlib.blake2b(
                    payload[off : off + ln], digest_size=8
                ).hexdigest()
                == hx
            )
            pos = off + ln
        assert pos == len(payload)
        for off, ln, hx in chunks[:-1]:
            assert min_size <= ln <= mx
        if chunks:
            assert chunks[-1][1] <= mx
        assert (
            cdc_chunk_bytes(payload, min_size, avg, mx, segment_bytes=segment)
            == chunks
        )

    prop()


def test_chunk_dedup_pairs_and_savings(spark):
    """Three media: a and b share b's entire second half; c is unrelated.
    The pair (a, b) surfaces with ~half of a's bytes shared; (a, c) and
    (b, c) do not. chunk_savings matches a brute-force content-addressed
    store computed in plain Python."""
    half = _blob(5, 30_000)
    rows = [
        (1, _blob(6, 30_000) + half),
        (2, _blob(7, 30_000) + half),
        (3, _blob(8, 60_000)),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    chunks = cdc_chunks(media).cache()

    pairs = {
        (r["media_a"], r["media_b"]): r
        for r in chunk_dedup_pairs(chunks, min_shared=3).collect()
    }
    assert set(pairs) == {(1, 2)}
    r = pairs[(1, 2)]
    assert r["shared_bytes"] > 0.35 * 60_000  # ~the shared half, minus
    assert r["shared_bytes"] <= 30_000 + 4096  # the resync chunk
    # brute savings: every distinct chunk stored once
    brute = {}
    for mid, payload in rows:
        for off, ln, hx in cdc_chunk_bytes(bytes(payload)):
            brute[hx] = max(brute.get(hx, 0), ln)
    sv = chunk_savings(chunks).first()
    assert sv["total_bytes"] == sum(len(p) for _, p in rows)
    assert sv["unique_bytes"] == sum(brute.values())
    assert sv["dedup_ratio"] == pytest.approx(
        sv["total_bytes"] / sv["unique_bytes"]
    )


def test_hot_chunk_cap_prevents_quadratic_bucket(spark):
    """A chunk shared by EVERY payload (a common middle section — think
    format boilerplate) must be droppable via max_doc_freq — for dedup it
    identifies nobody and would otherwise form an n^2 join bucket. The
    resync property guarantees the shared middle produces identical
    chunk hashes in every payload regardless of the unique prefix."""
    common = _blob(4, 20_000)
    rows = [(i, _blob(10 + i, 3_000) + common) for i in range(12)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    chunks = cdc_chunks(media).cache()
    capped = chunk_dedup_pairs(chunks, min_shared=1, max_doc_freq=4)
    uncapped = chunk_dedup_pairs(chunks, min_shared=1, max_doc_freq=None)
    assert capped.count() == 0  # only the ubiquitous chunks matched
    assert uncapped.count() == 12 * 11 // 2  # all-pairs via the hot chunks


def test_cdc_chunks_plan_is_map_only(spark):
    """The chunker must not shuffle: no Exchange in the physical plan."""
    media = spark.createDataFrame(
        [(1, b"x" * 1000)], "media_id long, payload binary"
    )
    plan = cdc_chunks(media)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
