"""Remaining cross-implementation pins for the image codec family:

  * our VP8L lossless ENCODER -> the real libwebp DECODER
    (WebPDecodeRGBA) — the existing interop covers libwebp-encode ->
    our-decode; this closes the reverse direction, so both halves of our
    WebP codec now face the canonical implementation.
  * BMP both ways against the JVM's ImageIO BMP plugin (bottom-up and
    top-down rows, 24/32 bpp from our encoder; ImageIO-written BMPs into
    our decoder).
"""

import ctypes

import numpy as np
import pytest

from enterprise_warp_spark.pipeline.codecs import decode_bmp, encode_bmp
from tests.test_vp8l import _libwebp


def _imageio(spark):
    jvm = spark._jvm
    try:
        jvm.javax.imageio.ImageIO  # noqa: B018 — availability probe
    except Exception:
        pytest.skip("JVM ImageIO not reachable via py4j")
    return jvm


def libwebp_decode_rgba(payload: bytes) -> np.ndarray:
    lib = _libwebp()
    w, h = ctypes.c_int(0), ctypes.c_int(0)
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
    out = lib.WebPDecodeRGBA(
        payload, ctypes.c_size_t(len(payload)),
        ctypes.byref(w), ctypes.byref(h),
    )
    assert out, "libwebp decode failed"
    try:
        n = w.value * h.value * 4
        arr = np.frombuffer(
            bytes(bytearray(ctypes.cast(
                out, ctypes.POINTER(ctypes.c_uint8 * n)
            ).contents)),
            dtype=np.uint8,
        )
        return arr.reshape(h.value, w.value, 4)
    finally:
        lib.WebPFree(out)


def _rgb():
    rng = np.random.default_rng(11)
    yy, xx = np.mgrid[0:35, 0:49]
    img = np.stack(
        [(xx * 5 + yy) % 256, (xx + yy * 7) % 256, (xx * yy // 9) % 256],
        axis=-1,
    ).astype(np.uint8)
    return np.clip(
        img.astype(np.int64) + rng.integers(-5, 6, img.shape), 0, 255
    ).astype(np.uint8)


@pytest.mark.parametrize("kwargs", [
    {"use_palette": False},
    {"use_palette": True},
    {"use_palette": False, "subtract_green": True},
])
def test_our_vp8l_encoder_decodes_in_libwebp(kwargs):
    """Every encoder mode we ship must produce a stream the CANONICAL
    decoder reads to identical pixels (lossless: bit-exact RGBA)."""
    from enterprise_warp_spark.pipeline.vp8l import encode_webp_lossless

    img = _rgb()
    if kwargs.get("use_palette"):
        img = (img // 64 * 64).astype(np.uint8)  # <=256 distinct colors
    payload = encode_webp_lossless(img, **kwargs)
    got = libwebp_decode_rgba(payload)
    assert np.array_equal(got[:, :, :3], img)
    assert (got[:, :, 3] == 255).all()


@pytest.mark.parametrize("bpp,top_down", [(24, False), (24, True),
                                          (32, False)])
def test_our_bmp_decodes_in_imageio(spark, bpp, top_down):
    jvm = _imageio(spark)
    img = _rgb()
    payload = encode_bmp(img, bpp=bpp, top_down=top_down)
    bis = jvm.java.io.ByteArrayInputStream(payload)
    bi = jvm.javax.imageio.ImageIO.read(bis)
    assert bi is not None, "ImageIO could not parse our BMP"
    w, h = bi.getWidth(), bi.getHeight()
    arr = spark.sparkContext._gateway.new_array(jvm.int, w * h)
    bi.getRGB(0, 0, w, h, arr, 0, w)
    packed = np.array(list(arr), dtype=np.int64) & 0xFFFFFF
    theirs = np.stack(
        [(packed >> 16) & 0xFF, (packed >> 8) & 0xFF, packed & 0xFF],
        axis=-1,
    ).astype(np.uint8).reshape(h, w, 3)
    assert np.array_equal(theirs, img), (bpp, top_down)


def test_imageio_bmp_decodes_in_ours(spark):
    jvm = _imageio(spark)
    img = _rgb()
    h, w, _ = img.shape
    bi = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    packed = (
        (img[:, :, 0].astype(np.int64) << 16)
        | (img[:, :, 1].astype(np.int64) << 8)
        | img[:, :, 2].astype(np.int64)
    ).ravel()
    arr = spark.sparkContext._gateway.new_array(jvm.int, len(packed))
    for i, v in enumerate(packed.tolist()):
        arr[i] = v
    bi.setRGB(0, 0, w, h, arr, 0, w)
    bos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bi, "bmp", bos)
    ours = decode_bmp(bytes(bos.toByteArray()))
    assert np.array_equal(ours, img)


