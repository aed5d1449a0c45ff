"""IMA ADPCM (DVI4) codec — real-world COMPRESSED audio without plugins.

Closes part of the compressed-audio gap (VERDICT r5 #7, timeboxed): WAV
files with format tag 0x0011 (IMA/DVI ADPCM — telephony, games, embedded
recorders; 4:1 compression) now decode FOR REAL in a container with no
soundfile. The algorithm is the public IMA
(Interactive Multimedia Association) ADPCM specification, also in
RFC 3551 §4.5.1 (DVI4): 4-bit differential codes against an 89-entry
step-size table with an adaptive index.

MPEG audio (MP3) remains plugin-gated: its decoder requires large
normative data tables (Layer III Huffman code books, the 512-tap
synthesis window) that cannot be derived from the algorithm description,
so a faithful no-deps implementation cannot be written from the public
algorithm alone — the optional soundfile/audioread plugin stays the
boundary there.

Canonical pin (r11): CPython's `audioop` module carries the IMA/DVI
reference codec in C (Jack Jansen's adpcm.c, the implementation the IMA
spec circulated) — tests/test_adpcm_audioop.py pins decode over the full
4-bit code space, the encoder's code stream, and the stereo WAV word
interleave bit-exactly against it, so this codec is no longer
hermetic-twin-only.

Execution shape: an ADPCM stream is a sequence of INDEPENDENT blocks
(each block header carries its own predictor + step index), so decode
vectorizes ACROSS blocks with numpy — the per-sample loop runs
samples-per-block times over (n_blocks, n_channels) state arrays, not
once per sample of the whole file. Inside Spark this runs in the
Arrow-batched mapInPandas media kernels like every other codec.
"""

from __future__ import annotations

import struct

import numpy as np

# Standard IMA step-size table (89 entries) and index-adjust table —
# normative in the IMA ADPCM spec / RFC 3551.
STEP_TABLE = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int64)

INDEX_TABLE = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64)


def _step_decode(code, pred, index):
    """One vectorized IMA step over parallel states: (codes, preds,
    indices) int64 arrays -> (new_pred, new_index). The reconstruction
    diff = (step>>3) + sum of selected step>>k terms is the spec's
    integer-exact form (not step*(m+0.5)/4, which differs by rounding)."""
    step = STEP_TABLE[index]
    diff = step >> 3
    diff = diff + np.where(code & 4, step, 0)
    diff = diff + np.where(code & 2, step >> 1, 0)
    diff = diff + np.where(code & 1, step >> 2, 0)
    pred = np.where(code & 8, pred - diff, pred + diff)
    pred = np.clip(pred, -32768, 32767)
    index = np.clip(index + INDEX_TABLE[code & 7], 0, 88)
    return pred, index


def _encode_code(sample, pred, index):
    """Vectorized encoder step: choose the 4-bit code whose decode best
    tracks `sample` (the standard successive-approximation encoder), then
    advance the shared state with the DECODER's exact arithmetic so both
    sides stay in lockstep."""
    step = STEP_TABLE[index]
    diff = sample - pred
    code = np.where(diff < 0, 8, 0)
    adiff = np.abs(diff)
    c4 = adiff >= step
    adiff = adiff - np.where(c4, step, 0)
    c2 = adiff >= (step >> 1)
    adiff = adiff - np.where(c2, step >> 1, 0)
    c1 = adiff >= (step >> 2)
    code = code | np.where(c4, 4, 0) | np.where(c2, 2, 0) | np.where(c1, 1, 0)
    pred, index = _step_decode(code, pred, index)
    return code, pred, index


def decode_ima_blocks(
    data: bytes, n_ch: int, block_align: int, n_samples: int | None = None
) -> np.ndarray:
    """Raw IMA ADPCM block stream -> int16 (n_samples, n_ch).

    Block layout (the WAV 0x0011 convention): per channel a 4-byte header
    (int16 predictor, uint8 step index, reserved), then groups of 4 bytes
    PER CHANNEL of packed nibbles (low nibble first), channels
    interleaved by 4-byte words. A trailing fragment shorter than one
    block (not produced by conforming writers) is ignored; `n_samples`
    (the fact-chunk count) trims the final block's padding."""
    if block_align <= 4 * n_ch:
        raise ValueError(f"block_align {block_align} too small for {n_ch} ch")
    total = len(data) // block_align
    if total == 0:
        raise ValueError("ADPCM stream shorter than one block")
    arr = np.frombuffer(data[: total * block_align], np.uint8).reshape(
        total, block_align
    )
    hdr = arr[:, : 4 * n_ch].reshape(total, n_ch, 4)
    pred = (
        hdr[:, :, 0].astype(np.int64) | (hdr[:, :, 1].astype(np.int64) << 8)
    )
    pred = np.where(pred >= 32768, pred - 65536, pred)
    index = np.clip(hdr[:, :, 2].astype(np.int64), 0, 88)
    body = arr[:, 4 * n_ch :]
    # words of 4 bytes, channel-interleaved: word w belongs to channel
    # w % n_ch; within a channel, bytes in stream order, low nibble first
    n_words = body.shape[1] // 4
    words = body[:, : n_words * 4].reshape(total, n_words, 4)
    per_ch_words = n_words // n_ch
    if per_ch_words == 0:
        raise ValueError("ADPCM block holds no sample words")
    ch_words = words[:, : per_ch_words * n_ch].reshape(
        total, per_ch_words, n_ch, 4
    )
    by_ch = ch_words.transpose(0, 2, 1, 3).reshape(total, n_ch, per_ch_words * 4)
    nib = np.empty((total, n_ch, per_ch_words * 8), np.int64)
    nib[:, :, 0::2] = by_ch & 0x0F
    nib[:, :, 1::2] = by_ch >> 4
    spb = nib.shape[2]  # coded samples per block per channel (+1 header)
    out = np.empty((total, spb + 1, n_ch), np.int64)
    out[:, 0, :] = pred
    for t in range(spb):
        pred, index = _step_decode(nib[:, :, t], pred, index)
        out[:, t + 1, :] = pred
    flat = out.reshape(total * (spb + 1), n_ch)
    if n_samples is not None:
        flat = flat[:n_samples]
    return flat.astype(np.int16)


def encode_ima_wav(
    samples: np.ndarray, sample_rate: int, samples_per_block: int = 505
) -> bytes:
    """int16-range samples (n,) or (n, ch) -> WAV bytes with format tag
    0x0011 (IMA ADPCM). samples_per_block must be 8k+1 per the block
    layout (default 505 -> block_align 256 per channel, the common
    choice)."""
    if (samples_per_block - 1) % 8:
        raise ValueError("samples_per_block must be 8k+1")
    x = np.asarray(samples)
    if x.ndim == 1:
        x = x[:, None]
    if np.issubdtype(x.dtype, np.floating):
        x = np.clip(np.round(x * 32767.0), -32768, 32767)
    x = x.astype(np.int64)
    n, n_ch = x.shape
    spb = samples_per_block
    n_blocks = -(-n // spb)
    pad = n_blocks * spb - n
    if pad:
        x = np.vstack([x, np.repeat(x[-1:], pad, axis=0)])
    blocks = x.reshape(n_blocks, spb, n_ch)
    pred = blocks[:, 0, :].copy()
    # initial step index per block from the block's mean |delta| (the
    # header carries the index, so any choice is spec-legal; matching the
    # local signal slope avoids the multi-sample adaptation transient an
    # index-0 start costs at every block boundary)
    mean_d = np.abs(np.diff(blocks, axis=1)).mean(axis=1)
    index0 = np.searchsorted(STEP_TABLE, mean_d).clip(0, 88)
    index = index0.copy()
    codes = np.empty((n_blocks, spb - 1, n_ch), np.int64)
    for t in range(spb - 1):
        c, pred, index = _encode_code(blocks[:, t + 1, :], pred, index)
        codes[:, t, :] = c
    # pack: per block, per channel header then channel-interleaved words
    h = blocks[:, 0, :].astype(np.int64) & 0xFFFF
    hdr = np.zeros((n_blocks, n_ch, 4), np.uint8)
    hdr[:, :, 0] = h & 0xFF
    hdr[:, :, 1] = h >> 8
    hdr[:, :, 2] = index0.astype(np.uint8)  # per-block start index
    nib = codes.transpose(0, 2, 1).reshape(n_blocks, n_ch, spb - 1)
    by = (nib[:, :, 0::2] | (nib[:, :, 1::2] << 4)).astype(np.uint8)
    per_ch_words = by.shape[2] // 4
    words = by.reshape(n_blocks, n_ch, per_ch_words, 4)
    inter = words.transpose(0, 2, 1, 3).reshape(n_blocks, -1)
    block_align = 4 * n_ch + inter.shape[1]
    body = np.concatenate([hdr.reshape(n_blocks, -1), inter], axis=1).tobytes()
    byte_rate = sample_rate * block_align // spb
    out = b"RIFF" + struct.pack("<I", 4 + 8 + 20 + 8 + 4 + 8 + len(body)) + b"WAVE"
    out += b"fmt " + struct.pack(
        "<IHHIIHHHH", 20, 0x0011, n_ch, sample_rate, byte_rate,
        block_align, 4, 2, spb,
    )
    out += b"fact" + struct.pack("<II", 4, n)
    out += b"data" + struct.pack("<I", len(body)) + body
    return out
