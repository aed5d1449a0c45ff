"""WARC / WET crawl-archive source: the ingestion format of web-scale
training corpora (Common Crawl ships ~90k .warc.gz / .wet.gz files per
crawl). No counterpart in the reference (it has no web sources); this is
part of the training-data-pipeline extension surface, feeding the hygiene
operators (pipeline/weburl.py, pipeline/html.py) and the documents schema.

Format (ISO 28500): records of the shape

    WARC/1.0\r\n
    WARC-Type: response\r\n
    Content-Length: N\r\n
    ...header lines...\r\n
    \r\n
    <N payload bytes>\r\n\r\n

``.warc.gz`` conventionally gzips EACH RECORD as its own gzip member so a
reader can seek to any member boundary; Python's zlib consumes concatenated
members natively, so both per-record-gzip and whole-file-gzip parse.

Scale shape: gzip members are not block-splittable, so parallelism is
per-FILE — exactly how crawl dumps are shipped (tens of thousands of ~1 GB
files; a 1000-executor cluster maps them at full width). The plan is
``binaryFile`` scan -> ``mapInPandas`` record parser (Arrow-batched; one
file per input row) -> columnar records; nothing touches the driver. A
truncated final record (a killed crawler is normal) yields the records that
fully parsed, plus a per-file ``warc_truncated`` flag — never an exception
on data.
"""

from __future__ import annotations

import gzip
import io
import zlib
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

# Output schema of read_warc: one row per WARC record.
WARC_SCHEMA = (
    "path string, record_idx long, warc_type string, target_uri string, "
    "warc_date string, record_id string, content_type string, "
    "content binary, content_length long, truncated boolean"
)

_CRLF = b"\r\n"


def _gunzip_all(data: bytes) -> tuple[bytes, bool]:
    """Decompress ALL gzip members of `data` (per-record members or one
    whole-file member). zlib with wbits=47 auto-detects the gzip header;
    looping the decompressobj over unused_data walks member boundaries.
    Returns (decoded_bytes, clean) — clean=False when a member was
    truncated or corrupt (bad CRC / deflate data), in which case the bytes
    already decoded are kept."""
    out = []
    buf = data
    clean = True
    while buf:
        d = zlib.decompressobj(47)
        try:
            out.append(d.decompress(buf))
            out.append(d.flush())
        except zlib.error:
            # corrupt member: keep the bytes already decoded and stop,
            # same as a truncated member, so the file surfaces as
            # truncated=True instead of killing the ingest task
            clean = False
            break
        if not d.eof:  # truncated member: keep what decoded
            clean = False
            break
        buf = d.unused_data
    return b"".join(out), clean


def parse_warc_bytes(data: bytes, path: str = "") -> list[dict]:
    """Parse one WARC/WET file's bytes into record dicts (the WARC_SCHEMA
    fields). Gzip (magic 1f 8b) is transparently decompressed. A record
    that cannot fully parse (truncated header or short payload) ends the
    file with truncated=True on the LAST COMPLETE record — or, if nothing
    parsed, a single all-null truncated marker row — so a 100 TB ingest
    never dies on one corrupt shard."""
    truncated = False
    if data[:2] == b"\x1f\x8b":
        data, clean = _gunzip_all(data)
        # a corrupt/short member can still end on a record boundary, so
        # the flag must come from the decompressor, not just the parse
        truncated = not clean
    records: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while data[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        hdr_end = data.find(_CRLF + _CRLF, pos)
        if hdr_end < 0:
            truncated = True
            break
        header_block = data[pos:hdr_end].decode("utf-8", errors="replace")
        lines = header_block.split("\r\n")
        if not lines[0].startswith("WARC/"):
            truncated = True
            break
        fields: dict[str, str] = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            fields[k.strip().lower()] = v.strip()
        try:
            length = int(fields.get("content-length", ""))
        except ValueError:
            truncated = True
            break
        body_start = hdr_end + 4
        if body_start + length > n:
            truncated = True
            break
        body = data[body_start:body_start + length]
        records.append(
            {
                "path": path,
                "record_idx": len(records),
                "warc_type": fields.get("warc-type"),
                "target_uri": fields.get("warc-target-uri"),
                "warc_date": fields.get("warc-date"),
                "record_id": fields.get("warc-record-id"),
                "content_type": fields.get("content-type"),
                "content": body,
                "content_length": length,
                "truncated": False,
            }
        )
        pos = body_start + length
    if truncated:
        if records:
            records[-1]["truncated"] = True
        else:
            records.append(
                {
                    "path": path,
                    "record_idx": 0,
                    "warc_type": None,
                    "target_uri": None,
                    "warc_date": None,
                    "record_id": None,
                    "content_type": None,
                    "content": None,
                    "content_length": None,
                    "truncated": True,
                }
            )
    return records


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """WARC/WET files -> one row per record (WARC_SCHEMA). File-level
    parallelism: ``binaryFile`` hands each file to one task; the parser is
    an Arrow-batched mapInPandas kernel (gzip members are not splittable —
    the crawl-dump contract is many ~1 GB files, so width comes from file
    count, the standard shape for this format)."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )

    def _parse(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = [
            "path", "record_idx", "warc_type", "target_uri", "warc_date",
            "record_id", "content_type", "content", "content_length",
            "truncated",
        ]
        for pdf in batches:
            rows: list[dict] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                rows.extend(parse_warc_bytes(bytes(content), path=path))
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(_parse, WARC_SCHEMA)


def encode_warc(
    records: list[dict], gzip_per_record: bool = False, version: str = "1.0"
) -> bytes:
    """Test-side twin: spell record dicts (warc_type/target_uri/content,
    optional record_id/content_type/warc_date) as WARC bytes, optionally
    one gzip member per record (the .warc.gz convention)."""
    out = io.BytesIO()
    for i, r in enumerate(records):
        content = r.get("content", b"")
        if isinstance(content, str):
            content = content.encode("utf-8")
        head = [f"WARC/{version}"]
        head.append(f"WARC-Type: {r.get('warc_type', 'response')}")
        if r.get("target_uri"):
            head.append(f"WARC-Target-URI: {r['target_uri']}")
        head.append(f"WARC-Date: {r.get('warc_date', '2026-01-01T00:00:00Z')}")
        head.append(
            f"WARC-Record-ID: {r.get('record_id', f'<urn:uuid:rec-{i}>')}"
        )
        if r.get("content_type"):
            head.append(f"Content-Type: {r['content_type']}")
        head.append(f"Content-Length: {len(content)}")
        blob = (
            "\r\n".join(head).encode("utf-8")
            + _CRLF
            + _CRLF
            + content
            + _CRLF
            + _CRLF
        )
        out.write(gzip.compress(blob, mtime=0) if gzip_per_record else blob)
    return out.getvalue()
