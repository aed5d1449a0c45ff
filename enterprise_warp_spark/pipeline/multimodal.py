"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

The kernels here decode for real, with no external codec, through
pipeline/codecs: `audio_fingerprints` reads RIFF WAV (PCM, IMA ADPCM,
G.711 mu-law/A-law) and `image_fingerprints` reads binary PPM/PGM and PNG
(all spec depths incl. 16-bit and Adam7 interlace). Every other mime (JPEG,
GIF, BMP, TIFF, WebP, MP3, ...) and undecodable bytes give `decoded=false`
with a null fingerprint.

Design for 100 TB: binaries ride in parquet as BINARY columns; kernels are
mapInPandas so each Arrow batch is decoded vectorized with no per-row Python
dispatch, and the operation never reshuffles — it runs map-side wherever the
scan ran.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),  # image/video; null otherwise
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),  # audio
        StructField("n_frames", IntegerType()),  # video
    ]
)


def binary_meta(df: DataFrame, payload_expr: str = "cast(text as binary)") -> DataFrame:
    """Pure-SQL metadata over a binary column (no decode): byte length + md5.

    Used by the oracle-checked catalog query; works on any BINARY expression.
    """
    return df.select(
        "doc_id",
        F.expr(f"octet_length({payload_expr})").alias("n_bytes"),
        F.expr(f"md5({payload_expr})").alias("payload_md5"),
    )


def _signed64(fp: int) -> int:
    """Reinterpret an unsigned 64-bit fingerprint as signed int64 (Arrow/
    Spark LongType): a set top bit would otherwise overflow the C long."""
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def audio_fingerprints(media: DataFrame, n_bins: int = 32) -> DataFrame:
    """64-bit perceptual fingerprint for decodable audio (WAV/PCM): the
    energy envelope resampled to `n_bins` windows, each window contributing
    2 bits (energy rise/fall vs the previous window and vs the track
    median). Robust to volume scaling (bits compare, not measure) and to
    small edits (one window flips, hamming stays low) — the audio analogue
    of SimHash for text.

    mapInPandas, partition-preserving; non-decodable audio (MP3/AAC) rows
    are emitted with decoded=false and a null fingerprint.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from enterprise_warp_spark.pipeline import codecs

        def one(row: pd.Series) -> tuple[bool, int | None]:
            if codecs.DECODABLE_MIMES.get(row["mime"]) != "wav":
                return False, None
            try:
                samples, _ = codecs.decode_audio(row["payload"], row["mime"])
            except Exception:
                return False, None  # undecodable bytes
            mono = samples.mean(axis=1)  # decode_audio guarantees (n, ch)
            if len(mono) < n_bins:
                mono = np.pad(mono, (0, n_bins - len(mono)))
            # per-window RMS energy envelope (vectorized reshape)
            w = len(mono) // n_bins
            env = np.sqrt((mono[: w * n_bins].reshape(n_bins, w) ** 2).mean(axis=1))
            med = float(np.median(env))
            fp = 0
            for i in range(n_bins):
                rise = env[i] > (env[i - 1] if i else med)
                loud = env[i] > med
                fp = (fp << 2) | (int(rise) << 1) | int(loud)
            return True, _signed64(fp)

        for pdf in batches:
            out = pdf[pdf["kind"] == "audio"]
            done = [one(r) for _, r in out.iterrows()]
            yield pd.DataFrame(
                {
                    "media_id": out["media_id"],
                    "decoded": pd.Series([d for d, _ in done], index=out.index, dtype="bool"),
                    "fingerprint": pd.Series(
                        [f for _, f in done], index=out.index, dtype="object"
                    ),
                }
            )

    return media.mapInPandas(
        kernel, "media_id long, decoded boolean, fingerprint long"
    )


def audio_near_dup_pairs(
    media: DataFrame, max_hamming: int = 8, bucket_shift: int = 32
) -> DataFrame:
    """Near-duplicate audio pairs: equi-join on the fingerprint's top bits
    (bucket), verify full hamming distance — the banded-join shape every
    dedup op in this engine uses; never an all-pairs scan."""
    fp = audio_fingerprints(media).filter(F.col("decoded"))
    a = fp.select(F.col("media_id").alias("media_a"), F.col("fingerprint").alias("fp_a"))
    b = fp.select(F.col("media_id").alias("media_b"), F.col("fingerprint").alias("fp_b"))
    return (
        a.join(
            b,
            F.expr(
                f"shiftright(fp_a, {bucket_shift}) = shiftright(fp_b, {bucket_shift})"
                " AND media_a < media_b"
            ),
        )
        .withColumn("hamming", F.expr("bit_count(fp_a ^ fp_b)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("media_a", "media_b", "hamming")
    )


def image_fingerprints(media: DataFrame) -> DataFrame:
    """64-bit dHash for decodable images (PPM/PGM/PNG): grayscale,
    nearest-resize to 9x8 (pipeline.codecs), one bit per horizontal neighbor
    comparison. Comparison bits make it invariant to brightness/contrast
    scaling and robust to resizing — the classic perceptual image hash.
    Every other mime (JPEG, GIF, ...) and undecodable bytes give
    decoded=false and a null fingerprint."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from enterprise_warp_spark.pipeline import codecs

        def one(row: pd.Series) -> tuple[bool, int | None]:
            try:
                arr = codecs.decode_image(row["payload"], row["mime"])
            except Exception:
                return False, None  # a mime decode_image refuses, or bad bytes
            gray = arr.mean(axis=2) if arr.ndim == 3 else arr.astype(np.float64)
            small = codecs.resize_nearest(gray, 9, 8)  # 9 cols -> 8 diffs/row
            bits = (small[:, 1:] > small[:, :-1]).flatten()
            fp = 0
            for b in bits:
                fp = (fp << 1) | int(b)
            return True, _signed64(fp)

        for pdf in batches:
            out = pdf[pdf["kind"] == "image"]
            done = [one(r) for _, r in out.iterrows()]
            yield pd.DataFrame(
                {
                    "media_id": out["media_id"],
                    "decoded": pd.Series([d for d, _ in done], index=out.index, dtype="bool"),
                    "fingerprint": pd.Series(
                        [f for _, f in done], index=out.index, dtype="object"
                    ),
                }
            )

    return media.mapInPandas(
        kernel, "media_id long, decoded boolean, fingerprint long"
    )


def image_near_dup_pairs(
    media: DataFrame,
    max_hamming: int = 10,
    bucket_shift: int = 32,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate image pairs: same hamming-bucket equi-join + verify
    shape as audio_near_dup_pairs, over dHash fingerprints. Pass
    `fingerprints` (rows of (media_id, fingerprint), e.g. a checkpointed
    image_fingerprints result already filtered to decoded rows) to reuse
    an existing hash table instead of re-decoding the corpus — the
    decoded filter is applied only on the self-computed path, so a slim
    two-column projection works."""
    if fingerprints is not None:
        fp = (
            fingerprints.filter(F.col("decoded"))
            if "decoded" in fingerprints.columns
            else fingerprints
        )
    else:
        fp = image_fingerprints(media).filter(F.col("decoded"))
    a = fp.select(F.col("media_id").alias("media_a"), F.col("fingerprint").alias("fp_a"))
    b = fp.select(F.col("media_id").alias("media_b"), F.col("fingerprint").alias("fp_b"))
    return (
        a.join(
            b,
            F.expr(
                f"shiftright(fp_a, {bucket_shift}) = shiftright(fp_b, {bucket_shift})"
                " AND media_a < media_b"
            ),
        )
        .withColumn("hamming", F.expr("bit_count(fp_a ^ fp_b)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("media_a", "media_b", "hamming")
    )
