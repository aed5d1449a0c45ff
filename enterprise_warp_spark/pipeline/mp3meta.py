"""MP3 (MPEG audio) METADATA parser — frame headers, Xing/Info/VBRI VBR
tags, ID3v1/ID3v2 text tags. No audio decode: Layer III synthesis needs
normative Huffman tables and filterbank windows that put a faithful
hermetic decoder out of scope (pipeline/codecs.py decodes no MP3) —
but the FRAME STRUCTURE is fully specified by printed tables (ISO/IEC
11172-3 / 13818-3, and the de-facto Xing/VBRI tag layouts), so duration,
bitrate, sample rate, channel mode, and tag text are all extractable from
bytes alone. That is what a 100 TB crawl pipeline actually needs from the
most common audio container: census, dedup keys, and length accounting
without paying for decode.

``parse_mp3_meta(payload)`` walks every frame (resyncing over garbage),
honors a Xing/Info/VBRI frame count when present (the VBR case where
size/bitrate extrapolation lies), and returns a plain dict.
``mp3_meta(df)`` is the Arrow-batched mapInPandas wrapper over media rows
(the binary_meta shape: one row in, one row out, map-only).

Correctness model: no canonical MP3 implementation is a dependency, so
the pins are (a) hand-computed published-table fixtures — the classic
144*128000/44100 = 417-byte frame and friends — built with independent
arithmetic in tests/test_mp3meta.py, and (b) hostile-byte fuzz (truncated
frames, lying Xing counts, garbage between frames).

Reference surface: none (the reference engine has no media pipeline);
training-data extension per SURVEY §2.8.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

# header field tables — ISO/IEC 11172-3 §2.4.2.3 / 13818-3 (printed in
# both specs; indices are the raw 2-/4-bit header fields)
_VERSIONS = {0: "2.5", 2: "2", 3: "1"}  # 1 is reserved
_LAYERS = {1: 3, 2: 2, 3: 1}  # header code -> layer number

_BITRATES = {  # kbps rows by (version group, layer); index 0=free, 15=bad
    ("1", 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    ("1", 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    ("1", 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    ("2", 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    ("2", 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    ("2", 3): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}

_RATES = {  # Hz by version, index = the 2-bit samplerate field
    "1": (44100, 48000, 32000),
    "2": (22050, 24000, 16000),
    "2.5": (11025, 12000, 8000),
}

_CHANNELS = {0: 2, 1: 2, 2: 2, 3: 1}  # stereo/joint/dual/mono
_MODES = {0: "stereo", 1: "joint", 2: "dual", 3: "mono"}


def _samples_per_frame(version: str, layer: int) -> int:
    if layer == 1:
        return 384
    if layer == 2:
        return 1152
    return 1152 if version == "1" else 576  # Layer III halves in MPEG-2/2.5


def _frame_length(version: str, layer: int, bitrate_bps: int, rate: int,
                  padding: int) -> int:
    if layer == 1:
        return (12 * bitrate_bps // rate + padding) * 4
    # layers II/III: samples/8 * bitrate / rate (+1 byte pad)
    coef = _samples_per_frame(version, layer) // 8
    return coef * bitrate_bps // rate + padding


def _parse_frame_header(b: bytes, pos: int):
    """4 bytes at pos -> (frame_len, info dict) or None if not a valid
    frame header."""
    if pos + 4 > len(b):
        return None
    h = struct.unpack_from(">I", b, pos)[0]
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    vcode = (h >> 19) & 3
    lcode = (h >> 17) & 3
    if vcode == 1 or lcode == 0:
        return None  # reserved version / layer
    version = _VERSIONS[vcode]
    layer = _LAYERS[lcode]
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free-format and bad bitrate both unwalkable
    vgroup = "1" if version == "1" else "2"
    bitrate = _BITRATES[(vgroup, layer)][br_idx] * 1000
    rate = _RATES[version][sr_idx]
    padding = (h >> 9) & 1
    mode_code = (h >> 6) & 3
    flen = _frame_length(version, layer, bitrate, rate, padding)
    if flen < 4:
        return None
    return flen, {
        "version": version,
        "layer": layer,
        "bitrate_kbps": bitrate // 1000,
        "sample_rate": rate,
        "channels": _CHANNELS[mode_code],
        "mode": _MODES[mode_code],
        "crc": not ((h >> 16) & 1),
        "samples": _samples_per_frame(version, layer),
    }


def _syncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _decode_id3_text(raw: bytes) -> str | None:
    if not raw:
        return None
    enc, body = raw[0], raw[1:]
    try:
        if enc == 0:
            s = body.decode("latin-1")
        elif enc == 1:
            s = body.decode("utf-16")  # BOM-led per spec
        elif enc == 2:
            s = body.decode("utf-16-be")
        elif enc == 3:
            s = body.decode("utf-8")
        else:
            return None
    except UnicodeDecodeError:
        return None
    return s.rstrip("\x00") or None


_ID3_WANTED = {"TIT2": "title", "TPE1": "artist", "TALB": "album"}
_ID3V22_WANTED = {"TT2": "title", "TP1": "artist", "TAL": "album"}


def _parse_id3v2(b: bytes) -> tuple[int, dict]:
    """-> (tag_total_size, {title/artist/album}) — 0, {} when absent.

    Handles the three wild layouts: v2.2 (3-byte frame ids + 3-byte
    big-endian sizes: TT2/TP1/TAL), v2.3 (4-byte ids, plain 32-bit
    sizes), v2.4 (syncsafe frame sizes). Unsynchronisation (FF 00 -> FF,
    the exact inverse of the spec's insertion rule) is version-correct:
    v2.3's tag-level flag decodes the whole body before the walk (sizes
    count decoded bytes), while v2.4 walks the RAW body on the syncsafe
    sizes (which count on-disk bytes) and decodes each frame's payload
    individually (tag flag or per-frame format flag 0x02), honoring the
    4-byte data-length-indicator prefix (format flag 0x01); a
    v2.2 tag with the compression bit set is skipped whole, as the v2.2
    spec prescribes (no scheme was ever defined)."""
    if len(b) < 10 or b[:3] != b"ID3":
        return 0, {}
    major, flags = b[3], b[5]
    size = _syncsafe(b[6:10])
    total = 10 + size
    if major < 2 or (major == 2 and flags & 0x40):
        return total, {}  # unknown layout / v2.2 compressed tag
    body = b[10 : min(total, len(b))]
    if flags & 0x80 and major <= 3:
        # v2.2/v2.3: unsynchronisation is applied to (and the frame
        # sizes count) the DECODED tag body — both specs define it
        # tag-wide — so one whole-tag FF 00 -> FF replace before the
        # walk is exact. v2.4 is the opposite (ADVICE r13): frame size
        # fields count ON-DISK bytes and unsync is per-frame, so the
        # walk below stays on the raw body and decodes each frame's
        # payload individually.
        body = body.replace(b"\xff\x00", b"\xff")
    out: dict = {}
    pos = 0
    end = len(body)
    if major >= 3 and flags & 0x40 and end >= 4:  # extended header: skip
        ext = _syncsafe(body[0:4]) if major >= 4 else struct.unpack_from(
            ">I", body, 0
        )[0] + 4
        pos += max(ext, 4)
    hdr_len = 6 if major == 2 else 10
    wanted = _ID3V22_WANTED if major == 2 else _ID3_WANTED
    id_len = 3 if major == 2 else 4
    while pos + hdr_len <= end:
        fid = body[pos : pos + id_len]
        if not fid.strip(b"\x00"):
            break  # padding
        if major == 2:
            fsize = int.from_bytes(body[pos + 3 : pos + 6], "big")
        elif major >= 4:
            fsize = _syncsafe(body[pos + 4 : pos + 8])
        else:
            fsize = struct.unpack_from(">I", body, pos + 4)[0]
        if fsize <= 0 or pos + hdr_len + fsize > end:
            break
        name = wanted.get(fid.decode("latin-1", "replace"))
        if name and name not in out:
            raw = body[pos + hdr_len : pos + hdr_len + fsize]
            if major >= 4:
                fmt = body[pos + 9]
                # per-frame unsync: set by the frame's own format flag, or
                # implied for every frame by the tag-level unsync flag
                if fmt & 0x02 or flags & 0x80:
                    raw = raw.replace(b"\xff\x00", b"\xff")
                if fmt & 0x01 and len(raw) >= 4:
                    raw = raw[4:]  # data-length indicator prefix
            txt = _decode_id3_text(raw)
            if txt:
                out[name] = txt
        pos += hdr_len + fsize
    return total, out


def _parse_id3v1(b: bytes) -> dict:
    if len(b) < 128 or b[-128:-125] != b"TAG":
        return {}
    t = b[-128:]

    def field(a, z):
        s = t[a:z].split(b"\x00")[0].decode("latin-1", "replace").strip()
        return s or None

    out = {}
    for k, v in (("title", field(3, 33)), ("artist", field(33, 63)),
                 ("album", field(63, 93))):
        if v:
            out[k] = v
    return out


def _xing_frames(b: bytes, pos: int, flen: int, info: dict) -> int | None:
    """Frame count from a Xing/Info or VBRI tag in the frame at pos."""
    # Xing sits after the side info: bytes = 4 + (MPEG1 ? (mono?17:32)
    #                                            : (mono?9:17))
    mono = info["channels"] == 1
    side = (17 if mono else 32) if info["version"] == "1" else (9 if mono else 17)
    at = pos + 4 + side
    if at + 8 <= len(b) and b[at : at + 4] in (b"Xing", b"Info"):
        flags = struct.unpack_from(">I", b, at + 4)[0]
        if flags & 1 and at + 12 <= len(b):
            return struct.unpack_from(">I", b, at + 8)[0]
    # VBRI: fixed 32 bytes after the 4-byte header (Fraunhofer layout)
    vat = pos + 36
    if vat + 18 <= len(b) and b[vat : vat + 4] == b"VBRI":
        return struct.unpack_from(">I", b, vat + 14)[0]
    return None


def parse_mp3_meta(payload: bytes, max_resync: int = 1 << 16) -> dict:
    """One MP3 payload -> metadata dict:

        ok, version, layer, bitrate_kbps (MODE of frame bitrates — robust
        to VBR), sample_rate, channels, mode, n_frames, duration_s, vbr,
        has_xing, title, artist, album, id3v2_bytes

    Walks every frame from the end of any ID3v2 tag, resyncing over up to
    `max_resync` bytes of garbage between frames (hostile data at corpus
    scale); a Xing/Info/VBRI frame count, when present AND larger than the
    walked count (truncated file), is reported via `xing_frames` but
    duration always reflects WALKED frames — the bytes actually present.
    Raises nothing: un-parseable payloads return ok=False."""
    out: dict = {
        "ok": False, "version": None, "layer": None, "bitrate_kbps": None,
        "sample_rate": None, "channels": None, "mode": None,
        "n_frames": 0, "duration_s": None, "vbr": None, "has_xing": False,
        "xing_frames": None, "title": None, "artist": None, "album": None,
        "id3v2_bytes": 0,
    }
    if not payload:
        return out
    b = bytes(payload)
    tag_size, tags = _parse_id3v2(b)
    out["id3v2_bytes"] = tag_size
    for k, v in {**_parse_id3v1(b), **tags}.items():
        out[k] = v

    pos = tag_size
    first = None
    bitrates: dict[int, int] = {}
    frames = 0
    seconds = 0.0
    resync_left = max_resync
    while pos + 4 <= len(b):
        parsed = _parse_frame_header(b, pos)
        if parsed is None:
            if resync_left <= 0:
                break
            resync_left -= 1
            pos += 1
            continue
        flen, info = parsed
        if first is None:
            first = info
            xf = _xing_frames(b, pos, flen, info)
            if xf is not None:
                out["has_xing"] = True
                out["xing_frames"] = int(xf)
                pos += flen  # the tag frame carries no audio
                continue
        frames += 1
        bitrates[info["bitrate_kbps"]] = bitrates.get(info["bitrate_kbps"], 0) + 1
        seconds += info["samples"] / info["sample_rate"]
        resync_left = max_resync
        pos += flen

    if first is None:
        return out
    out.update(
        ok=frames > 0 or out["has_xing"],
        version=first["version"],
        layer=first["layer"],
        sample_rate=first["sample_rate"],
        channels=first["channels"],
        mode=first["mode"],
        n_frames=frames,
        duration_s=round(seconds, 6),
        vbr=len(bitrates) > 1,
    )
    if bitrates:
        # modal bitrate, ties to the lower rate — deterministic
        out["bitrate_kbps"] = max(bitrates, key=lambda k: (bitrates[k], -k))
    return out


MP3_META_SCHEMA = (
    "ok boolean, version string, layer int, bitrate_kbps int, "
    "sample_rate int, channels int, mode string, n_frames long, "
    "duration_s double, vbr boolean, has_xing boolean, xing_frames long, "
    "title string, artist string, album string, id3v2_bytes long"
)


def mp3_meta(
    media: DataFrame, payload_col: str = "payload", id_cols: tuple = ("doc_id",)
) -> DataFrame:
    """Media rows -> one metadata row per payload (id_cols carried
    through). Map-only Arrow kernel, the binary_meta shape: no shuffle,
    no Python in any other stage."""
    import pandas as pd

    fields = dict(media.dtypes)
    id_schema = ", ".join(f"{c} {fields[c]}" for c in id_cols)
    schema = f"{id_schema}, {MP3_META_SCHEMA}" if id_cols else MP3_META_SCHEMA
    cols = list(id_cols)
    meta_cols = [f.split()[0] for f in MP3_META_SCHEMA.split(", ")]

    def kernel(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                m = parse_mp3_meta(
                    bytes(r[payload_col]) if r[payload_col] is not None else b""
                )
                rows.append(
                    [r[c] for c in cols] + [m[k] for k in meta_cols]
                )
            yield pd.DataFrame(rows, columns=cols + meta_cols)

    return media.select(*cols, payload_col).mapInPandas(kernel, schema)
