"""Baseline JPEG codec (kernels/jpeg): round-trip PSNR across quality /
subsampling / restart configurations, structural marker checks and error
paths.

The encoder exists for tests/datagen; PSNR is measured against the
ORIGINAL pixels, so an encoder bug cannot silently cancel a decoder bug
except in shared constant tables (zigzag/DCT are generated, not
transcribed — noted in the module docstring)."""

from __future__ import annotations

import numpy as np
import pytest

from pubscience_spark.kernels import jpeg


def _test_image(h=40, w=56, seed=7):
    rng = np.random.RandomState(seed)
    x = np.linspace(0, 255, w)[None, :] * np.ones((h, 1))
    y = np.linspace(0, 255, h)[:, None] * np.ones((1, w))
    img = np.stack([x, y, (x + y) / 2], axis=2)
    return np.clip(img + rng.randn(h, w, 3) * 3, 0, 255).astype(np.uint8)


def _psnr(a, b):
    mse = float(np.mean((a.astype(float) - b.astype(float)) ** 2))
    return 99.0 if mse == 0 else 10 * np.log10(255 ** 2 / mse)


def test_roundtrip_color_quality_ladder():
    img = _test_image()
    prev = 100.0
    for q, floor in ((95, 38), (75, 36), (50, 34)):
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=q))
        assert dec.shape == img.shape
        p = _psnr(dec, img)
        assert p >= floor, (q, p)
        assert p <= prev + 1.0          # quality knob is monotone-ish
        prev = p


def test_roundtrip_420_subsampling():
    img = _test_image()
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=90,
                                            subsample=True))
    assert dec.shape == img.shape
    assert _psnr(dec, img) >= 35


def test_roundtrip_grayscale_and_odd_sizes():
    g = _test_image()[:, :, :1]
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(g, quality=95))
    assert dec.shape == g.shape and _psnr(dec, g) >= 40
    odd = _test_image()[:37, :41]
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(odd, quality=85,
                                            subsample=True))
    assert dec.shape == odd.shape and _psnr(dec, odd) >= 33


def test_restart_markers_resync():
    img = _test_image(48, 48)
    raw = jpeg.encode_jpeg(img, quality=90, restart_interval=2)
    assert any(bytes([0xFF, 0xD0 + i]) in raw for i in range(8))
    assert b"\xff\xdd" in raw                       # DRI segment
    dec = jpeg.decode_jpeg(raw)
    assert _psnr(dec, img) >= 37
    # same image without restarts decodes to the same quality
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=90))
    assert abs(_psnr(dec, img) - _psnr(plain, img)) < 1.0


def test_constant_and_single_frequency_blocks():
    const = np.full((16, 16, 1), 100, dtype=np.uint8)
    assert np.array_equal(
        np.unique(jpeg.decode_jpeg(jpeg.encode_jpeg(const, 95))), [100])
    n = np.arange(8)
    blk = np.clip(128 + 80 * np.cos((2 * n[None, :] + 1) * np.pi / 16),
                  0, 255).astype(np.uint8)[:, :, None]
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(blk, quality=95))
    assert np.max(np.abs(dec.astype(int) - blk.astype(int))) <= 2


def test_marker_structure():
    raw = jpeg.encode_jpeg(_test_image(), quality=80)
    assert raw[:2] == b"\xff\xd8" and raw[-2:] == b"\xff\xd9"
    assert b"\xff\xdb" in raw and b"\xff\xc0" in raw
    assert b"\xff\xc4" in raw and b"\xff\xda" in raw


def test_error_paths():
    with pytest.raises(jpeg.JpegError):
        jpeg.decode_jpeg(b"not a jpeg at all")
    # progressive SOF2 -> named error
    raw = bytearray(jpeg.encode_jpeg(_test_image(16, 16), quality=80))
    i = raw.find(b"\xff\xc0")
    raw[i + 1] = 0xC2
    with pytest.raises(jpeg.JpegError, match="progressive"):
        jpeg.decode_jpeg(bytes(raw))
    # truncated entropy stream
    good = jpeg.encode_jpeg(_test_image(32, 32), quality=80)
    with pytest.raises(jpeg.JpegError):
        jpeg.decode_jpeg(good[:len(good) // 2])


def _with_exif(raw: bytes, orientation: int) -> bytes:
    """Splice an APP1 Exif segment (little-endian TIFF, orientation
    tag) right after SOI."""
    import struct as st
    tiff = (b"II" + st.pack("<H", 42) + st.pack("<I", 8)
            + st.pack("<H", 1)
            + st.pack("<HHI", 0x0112, 3, 1) + st.pack("<HH", orientation, 0)
            + st.pack("<I", 0))
    payload = b"Exif\x00\x00" + tiff
    seg = b"\xff\xe1" + st.pack(">H", len(payload) + 2) + payload
    return raw[:2] + seg + raw[2:]


def test_exif_orientation_applied():
    """Phone-camera portrait files carry orientation 6/8 — the decoder
    applies the transform like browsers do (opt-out available)."""
    img = _test_image(24, 32)                    # landscape 24x32
    raw = jpeg.encode_jpeg(img, quality=95)
    base = jpeg.decode_jpeg(raw)
    for o, want in ((1, base),
                    (2, base[:, ::-1]),
                    (3, base[::-1, ::-1]),
                    (4, base[::-1]),
                    (5, np.transpose(base, (1, 0, 2))),
                    (6, np.rot90(base, -1)),
                    (7, np.transpose(base, (1, 0, 2))[::-1, ::-1]),
                    (8, np.rot90(base, 1))):
        got = jpeg.decode_jpeg(_with_exif(raw, o))
        assert got.shape == want.shape, o
        assert np.array_equal(got, want), o
    # rotated file still close to the rotated original pixels
    got6 = jpeg.decode_jpeg(_with_exif(raw, 6))
    assert _psnr(got6, np.rot90(img, -1)) >= 38
    # opt-out returns raw sensor layout
    raw_only = jpeg.decode_jpeg(_with_exif(raw, 6), apply_orientation=False)
    assert np.array_equal(raw_only, base)
    # garbage exif is ignored, not fatal
    bad = raw[:2] + b"\xff\xe1\x00\x08Exif\x00\x00" + raw[2:]
    assert np.array_equal(jpeg.decode_jpeg(bad), base)


def test_exif_survives_following_xmp_app1():
    """Phones/Photoshop write APP1 Exif THEN APP1 XMP; the XMP segment
    must not clobber the parsed orientation (round-4 review)."""
    import struct as st
    img = _test_image(24, 32)
    raw = _with_exif(jpeg.encode_jpeg(img, quality=95), 6)
    xmp = b"http://ns.adobe.com/xap/1.0/\x00<x:xmpmeta/>"
    seg = b"\xff\xe1" + st.pack(">H", len(xmp) + 2) + xmp
    # insert the XMP APP1 after the Exif APP1 (which follows SOI)
    exif_len = st.unpack(">H", raw[4:6])[0]
    cut = 2 + 2 + exif_len
    raw2 = raw[:cut] + seg + raw[cut:]
    assert np.array_equal(jpeg.decode_jpeg(raw2), jpeg.decode_jpeg(raw))
    assert jpeg.decode_jpeg(raw2).shape == (32, 24, 3)   # rotated


# ---------------------------------------------- round-5: multi-scan --

def test_progressive_roundtrip_color():
    """Full successive-approximation script (DC/AC first + two
    refinement rounds + DC refinement + EOB runs) must reproduce the
    image as well as baseline does — the coefficients are identical,
    only the scan order differs."""
    img = _test_image()
    raw = jpeg.encode_jpeg(img, quality=90, progressive=True)
    assert b"\xff\xc2" in raw and b"\xff\xc0" not in raw
    assert raw.count(b"\xff\xda") > 3             # a real scan script
    dec = jpeg.decode_jpeg(raw)
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=90))
    assert dec.shape == img.shape
    assert _psnr(dec, img) >= 36
    # same coefficients -> near-identical output (rounding only)
    assert np.max(np.abs(dec.astype(int) - base.astype(int))) <= 1


def test_progressive_roundtrip_gray_subsampled_odd():
    g = _test_image()[:, :, :1]
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(g, quality=95,
                                            progressive=True))
    assert dec.shape == g.shape and _psnr(dec, g) >= 40
    odd = _test_image()[:37, :41]
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(odd, quality=85,
                                            subsample=True,
                                            progressive=True))
    assert dec.shape == odd.shape and _psnr(dec, odd) >= 33


def test_progressive_restart_markers():
    img = _test_image(48, 48)
    raw = jpeg.encode_jpeg(img, quality=90, progressive=True,
                           restart_interval=3)
    assert any(bytes([0xFF, 0xD0 + i]) in raw for i in range(8))
    dec = jpeg.decode_jpeg(raw)
    assert _psnr(dec, img) >= 36


def test_baseline_separate_scans():
    """Legal baseline multi-scan layout: one non-interleaved scan per
    component (round-4 review asked for a named error here; decoding
    it properly is strictly better)."""
    img = _test_image()
    raw = jpeg.encode_jpeg(img, quality=90, separate_scans=True)
    assert raw.count(b"\xff\xda") == 3
    one = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=90))
    dec = jpeg.decode_jpeg(raw)
    assert np.max(np.abs(dec.astype(int) - one.astype(int))) <= 1
    # subsampled variant exercises the Y component's OWN block grid
    # (ceil(W/8), not the MCU grid) in the non-interleaved scan
    sub = jpeg.encode_jpeg(_test_image(36, 20), quality=90,
                           subsample=True, separate_scans=True)
    dec = jpeg.decode_jpeg(sub)
    assert dec.shape == (36, 20, 3)
    assert _psnr(dec, _test_image(36, 20)) >= 33


def _cmyk_to_rgb_ref(cmyk_inv):
    c = cmyk_inv.astype(float)
    return np.clip(np.round(
        np.stack([c[:, :, 0] * c[:, :, 3], c[:, :, 1] * c[:, :, 3],
                  c[:, :, 2] * c[:, :, 3]], axis=2) / 255.0),
        0, 255).astype(np.uint8)


def test_cmyk_adobe_roundtrip():
    """4-component Adobe CMYK (transform 0): planes stored ink-inverted;
    decoder converts to RGB multiplicatively."""
    rng = np.random.RandomState(11)
    smooth = np.cumsum(rng.randn(28, 36, 4), axis=1)
    cmyk = np.clip(128 + 40 * smooth / np.abs(smooth).max(),
                   0, 255).astype(np.uint8)
    raw = jpeg.encode_jpeg(cmyk, quality=95)
    assert b"Adobe" in raw
    dec = jpeg.decode_jpeg(raw)
    assert dec.shape == (28, 36, 3)
    assert _psnr(dec, _cmyk_to_rgb_ref(cmyk)) >= 34


def test_ycck_adobe_roundtrip():
    rng = np.random.RandomState(12)
    smooth = np.cumsum(rng.randn(24, 32, 4), axis=0)
    cmyk = np.clip(128 + 40 * smooth / np.abs(smooth).max(),
                   0, 255).astype(np.uint8)
    raw = jpeg.encode_jpeg(cmyk, quality=95, adobe_transform=2)
    dec = jpeg.decode_jpeg(raw)
    assert dec.shape == (24, 32, 3)
    assert _psnr(dec, _cmyk_to_rgb_ref(cmyk)) >= 32


def test_cmyk_progressive_roundtrip():
    rng = np.random.RandomState(13)
    smooth = np.cumsum(rng.randn(24, 24, 4), axis=1)
    cmyk = np.clip(128 + 40 * smooth / np.abs(smooth).max(),
                   0, 255).astype(np.uint8)
    raw = jpeg.encode_jpeg(cmyk, quality=95, progressive=True)
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(cmyk, quality=95))
    dec = jpeg.decode_jpeg(raw)
    assert np.max(np.abs(dec.astype(int) - base.astype(int))) <= 1


def test_nonbaseline_named_errors():
    raw = bytearray(jpeg.encode_jpeg(_test_image(16, 16), quality=80))
    i = raw.find(b"\xff\xc0")
    for sof, msg in ((0xCA, "arithmetic"), (0xC3, "lossless")):
        bad = bytearray(raw)
        bad[i + 1] = sof
        with pytest.raises(jpeg.JpegError, match=msg):
            jpeg.decode_jpeg(bytes(bad))


def test_progressive_truncated_and_corrupt():
    img = _test_image(32, 32)
    raw = jpeg.encode_jpeg(img, quality=80, progressive=True)
    for cut in (len(raw) // 3, 2 * len(raw) // 3):
        with pytest.raises(jpeg.JpegError):
            jpeg.decode_jpeg(raw[:cut])


def test_progressive_eob_runs_and_flat_regions():
    """Flat regions many blocks wide force multi-block EOB runs with
    DEFERRED correction bits (the trickiest refinement path); the
    detailed strip forces interleaved newly-nonzero codes."""
    rng = np.random.RandomState(21)
    img = np.full((64, 96, 3), 180, dtype=np.uint8)
    img[24:40, :, :] = np.clip(
        128 + 60 * rng.randn(16, 96, 3), 0, 255).astype(np.uint8)
    raw = jpeg.encode_jpeg(img, quality=85, progressive=True)
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=85))
    dec = jpeg.decode_jpeg(raw)
    assert np.max(np.abs(dec.astype(int) - base.astype(int))) <= 1
    assert _psnr(dec, img) >= 30
    # with subsampling + restarts together: the random-color strip makes
    # 4:2:0 inherently lossy (~20 dB), so compare against BASELINE 4:2:0
    # — same coefficients, only the scan order differs
    raw2 = jpeg.encode_jpeg(img, quality=85, progressive=True,
                            subsample=True, restart_interval=5)
    dec2 = jpeg.decode_jpeg(raw2)
    base2 = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=85,
                                              subsample=True))
    assert dec2.shape == img.shape
    assert np.max(np.abs(dec2.astype(int) - base2.astype(int))) <= 1
