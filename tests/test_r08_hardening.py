"""Round-8 hardening: hostile-header CPU/memory guards in the image
codecs and the dedup robustness fixes (ADVICE r8).

All codec cases must fail FAST with a named error — the point of the
guards is that a ~70-byte crafted stream can no longer buy minutes of
CPU or gigabytes of RAM inside the untrusted-PDF image harvest.
"""

from __future__ import annotations

import time

import numpy as np
import pytest

from pubscience_spark.kernels import jbig2 as J
from pubscience_spark.kernels.jpeg2000 import (Jp2Error, decode_jpx,
                                               encode_jpx)


def _timed(fn, limit_s=2.0):
    t0 = time.perf_counter()
    with pytest.raises(J.Jbig2Error) as ei:
        fn()
    assert time.perf_counter() - t0 < limit_s
    return str(ei.value)


# ------------------------------------------------------------- JBIG2


def test_jbig2_longform_refs_count_bounded():
    """A long-form referred-to-segment count (up to 2^29) must be
    validated against the remaining input BEFORE the refs list is
    built — not spin a multi-million-entry loop and escape with a raw
    IndexError."""
    for count in (1 << 24, 0x1FFFFFFF):
        # the long-form count u32 begins AT the rts byte: top 3 bits 111
        seg = (b"\x00\x00\x00\x01"              # segment number
               + bytes([38])                    # flags: immediate generic
               + (0xE0000000 | count).to_bytes(4, "big")
               + b"\x00" * 8)                   # a few retain/ref bytes
        msg = _timed(lambda s=seg: J.parse_segments(s), limit_s=1.0)
        assert "truncated-header" in msg


def test_jbig2_generic_region_dims_guard():
    """Generic-region segments carry attacker-controlled u32 w/h/x/y;
    the MQ decoder never exhausts input, so a 50000×50000 declaration
    must raise a named error instead of allocating + per-pixel looping
    for hours."""
    def region(w, h, x=0, y=0):
        body = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
                + x.to_bytes(4, "big") + y.to_bytes(4, "big")
                + bytes([0])                    # comb op OR
                + bytes([0])                    # gflags: arith, tmpl 0
                + b"\x00" * 8                   # 4 AT pairs
                + b"\x00" * 16)                 # "payload"
        seg = (b"\x00\x00\x00\x02" + bytes([38]) + b"\x00"
               + bytes([1]) + len(body).to_bytes(4, "big") + body)
        page = (b"\x00\x00\x00\x01" + bytes([48]) + b"\x00" + bytes([1])
                + (19).to_bytes(4, "big")
                + (64).to_bytes(4, "big") + (64).to_bytes(4, "big")
                + b"\x00" * 11)
        return page + seg

    for w, h, x, y in ((50000, 50000, 0, 0),    # area bomb
                       (1 << 20, 4, 0, 0),      # per-side bomb
                       (4, 4, 1 << 30, 0),      # placement bomb
                       (0, 4, 0, 0)):           # zero dim
        msg = _timed(lambda b=region(w, h, x, y): J.decode_embedded(b))
        assert "region-dims" in msg


def test_jbig2_page_info_dims_guard():
    page = (b"\x00\x00\x00\x01" + bytes([48]) + b"\x00" + bytes([1])
            + (19).to_bytes(4, "big")
            + (1 << 20).to_bytes(4, "big") + (1 << 20).to_bytes(4, "big")
            + b"\x00" * 11)
    msg = _timed(lambda: J.decode_embedded(page))
    assert "page-dims" in msg


def test_jbig2_valid_streams_still_decode():
    rng = np.random.default_rng(11)
    bm = (rng.random((23, 41)) < 0.3).astype(np.uint8)
    assert np.array_equal(J.decode_embedded(J.encode_embedded(bm)), bm)


# ------------------------------------------------------------ JPEG 2000


def test_jp2_total_pixel_budget():
    """Per-side guards admit 2^15 × 2^15 × 16 components ≈ 17G float64
    samples from a tiny header; the total-sample budget must fire
    before any band array is allocated."""
    blob = bytearray(encode_jpx(np.zeros((16, 16), dtype=np.uint8),
                                jp2=False, levels=1))
    siz_at = bytes(blob).index(b"\xff\x51") + 4
    big = (1 << 15).to_bytes(4, "big")
    blob[siz_at + 2:siz_at + 6] = big       # Xsiz
    blob[siz_at + 6:siz_at + 10] = big      # Ysiz
    blob[siz_at + 18:siz_at + 22] = big     # XTsiz (>= Xsiz: one tile)
    blob[siz_at + 22:siz_at + 26] = big     # YTsiz
    t0 = time.perf_counter()
    with pytest.raises(Jp2Error, match="image-too-large"):
        decode_jpx(bytes(blob))
    assert time.perf_counter() - t0 < 2.0


def test_jp2_valid_streams_still_decode():
    img = np.tile(np.arange(32, dtype=np.uint8) * 8, (16, 1))
    got = decode_jpx(encode_jpx(img, jp2=False, levels=2))
    assert np.array_equal(got["samples"][..., 0], img)


# ------------------------------------------------------------- dedup


def test_mark_duplicates_multi_map_column_named_error(spark):
    """A map-typed non-key column cannot be collapsed via min(struct)
    — the operator must raise a NAMED error at build time, not an
    opaque analysis failure (ADVICE r8)."""
    from pubscience_spark.operators.dedup import mark_duplicates_incremental
    df = spark.createDataFrame(
        [("u1", "k1", {"a": 1})],
        "url string, key string, props map<string,int>")
    with pytest.raises(ValueError, match="not orderable"):
        mark_duplicates_incremental(df, ["key"], "url")


def test_mark_duplicates_multi_plain_columns_unaffected(spark):
    from pubscience_spark.operators.dedup import (
        mark_duplicates_incremental, unpersist_input)
    df = spark.createDataFrame(
        [("u1", "k1", "b1"), ("u2", "k1", "b2"), ("u1", "k1", "b1")],
        "url string, key string, body string")
    out, _ = mark_duplicates_incremental(df, ["key"], "url")
    rows = {(r["url"], r["is_duplicate"]) for r in out.collect()}
    assert rows == {("u1", False), ("u2", True)}
    unpersist_input(out)


def test_index_loaders_missing_vs_corrupt(spark, tmp_path):
    """Missing path → None (no index yet); corrupted parquet or any
    other real read failure → propagate, never silently reset the
    cross-run dedup guarantee (ADVICE r8)."""
    from pubscience_spark.operators import dedup as D
    missing = str(tmp_path / "nope")
    assert D.load_paragraph_index(spark, missing) is None
    assert D.load_keeper_index(spark, missing) is None
    assert D.load_minhash_index(spark, missing) is None

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"not a parquet file")
    for loader in (D.load_paragraph_index, D.load_keeper_index,
                   D.load_minhash_index):
        with pytest.raises(Exception):
            df = loader(spark, str(corrupt))
            assert df is not None       # must not be swallowed to None
            df.collect()                # lazy failure also acceptable
