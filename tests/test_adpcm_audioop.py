"""IMA ADPCM vs CPython's audioop — the canonical-twin pin (VERDICT r10
#3).

audioop (CPython Modules/audioop.c, present through 3.12) carries the
IMA/DVI reference codec in C — Jack Jansen's adpcm.c, the implementation
the IMA spec itself circulated — so it is a genuinely independent second
implementation of the recursion pipeline/adpcm.py vectorizes. These tests
retire ADPCM from the hermetic-twin-only list: decode parity over the FULL
4-bit code space with random states, encoder code-stream parity, and an
end-to-end WAV block comparison including the stereo word interleave.

Framing notes: audioop is a raw nibble-stream codec with explicit
(valpred, index) state and packs the HIGH nibble first; WAV 0x0011 blocks
carry (predictor, index) in each block header and pack the LOW nibble
first — the tests swap nibbles and seed audioop's state from the header.
"""

import numpy as np
import pytest

audioop = pytest.importorskip("audioop")


def _swap_nibbles(b: bytes) -> bytes:
    a = np.frombuffer(b, np.uint8)
    return (((a & 0x0F) << 4) | (a >> 4)).astype(np.uint8).tobytes()


def _parse_wav(wav: bytes):
    """Minimal RIFF walker -> (fmt dict, data bytes)."""
    import struct

    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(wav):
        cid, ln = wav[pos : pos + 4], struct.unpack("<I", wav[pos + 4 : pos + 8])[0]
        body = wav[pos + 8 : pos + 8 + ln]
        if cid == b"fmt ":
            tag, ch, rate, brate, balign, bits = struct.unpack("<HHIIHH", body[:16])
            fmt = dict(tag=tag, ch=ch, rate=rate, block_align=balign, bits=bits)
        elif cid == b"data":
            data = body
        pos += 8 + ln + (ln & 1)
    return fmt, data


def test_decoder_matches_audioop_on_random_code_streams():
    """Full-code-space decode parity: random nibble bodies + random
    (predictor, index) header states, bit-exact against audioop's C
    decoder."""
    from enterprise_warp_spark.pipeline.adpcm import decode_ima_blocks

    rng = np.random.default_rng(42)
    for _ in range(8):
        pred0 = int(rng.integers(-32768, 32768))
        idx0 = int(rng.integers(0, 89))
        body = rng.integers(0, 256, size=252, dtype=np.uint8).tobytes()
        header = bytes([pred0 & 0xFF, (pred0 >> 8) & 0xFF, idx0, 0])
        ours = decode_ima_blocks(header + body, 1, 4 + len(body))
        pcm, _ = audioop.adpcm2lin(_swap_nibbles(body), 2, (pred0, idx0))
        theirs = np.frombuffer(pcm, np.int16)
        assert ours[0, 0] == pred0  # header sample emitted verbatim
        assert np.array_equal(ours[1:, 0], theirs)


def test_encoder_codes_match_audioop():
    """The successive-approximation encoder picks the SAME 4-bit code
    stream audioop's C encoder picks from the same state (both follow the
    IMA reference encoder arithmetic), so compressed output is
    reference-identical given the header state."""
    from enterprise_warp_spark.pipeline.adpcm import encode_ima_wav

    rng = np.random.default_rng(7)
    t = np.arange(505 * 2)
    sig = (
        9000 * np.sin(2 * np.pi * 440 * t / 8000)
        + 2500 * np.sin(2 * np.pi * 1337 * t / 8000)
        + rng.normal(0, 120, t.size)
    ).astype(np.int16)
    wav = encode_ima_wav(sig, 8000, samples_per_block=505)
    fmt, data = _parse_wav(wav)
    balign = fmt["block_align"]
    spb = 505
    for b in range(len(data) // balign):
        block = data[b * balign : (b + 1) * balign]
        pred0 = int(np.frombuffer(block[:2], np.int16)[0])
        idx0 = block[2]
        samples = sig[b * spb : (b + 1) * spb]
        want, _ = audioop.lin2adpcm(
            samples[1:].astype(np.int16).tobytes(), 2, (pred0, idx0)
        )
        assert _swap_nibbles(block[4:]) == want


def test_wav_stereo_blocks_decode_like_audioop_per_channel():
    """End-to-end: our stereo WAV's channel-interleaved 4-byte words,
    de-interleaved per channel, decode through audioop to exactly the
    per-channel columns decode_ima_blocks produces."""
    from enterprise_warp_spark.pipeline.adpcm import (
        decode_ima_blocks,
        encode_ima_wav,
    )

    rng = np.random.default_rng(3)
    n = 505 * 3
    t = np.arange(n)
    left = 8000 * np.sin(2 * np.pi * 220 * t / 8000) + rng.normal(0, 60, n)
    right = 6000 * np.sign(np.sin(2 * np.pi * 97 * t / 8000)) + rng.normal(0, 60, n)
    sig = np.stack([left, right], axis=1).astype(np.int16)
    wav = encode_ima_wav(sig, 8000, samples_per_block=505)
    fmt, data = _parse_wav(wav)
    assert fmt["tag"] == 0x0011 and fmt["ch"] == 2
    balign = fmt["block_align"]
    ours = decode_ima_blocks(data, 2, balign)
    spb = 505
    for b in range(len(data) // balign):
        block = data[b * balign : (b + 1) * balign]
        words = np.frombuffer(block[8:], np.uint8).reshape(-1, 4)
        for ch in range(2):
            pred0 = int(np.frombuffer(block[ch * 4 : ch * 4 + 2], np.int16)[0])
            idx0 = block[ch * 4 + 2]
            ch_body = words[ch::2].tobytes()
            pcm, _ = audioop.adpcm2lin(_swap_nibbles(ch_body), 2, (pred0, idx0))
            theirs = np.frombuffer(pcm, np.int16)
            got = ours[b * spb : (b + 1) * spb, ch]
            assert got[0] == pred0
            assert np.array_equal(got[1:], theirs)
