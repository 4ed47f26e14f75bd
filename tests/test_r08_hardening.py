"""Round-8 hardening: a hostile-header CPU/memory guard in the JPEG 2000
codec and the dedup robustness fixes (ADVICE r8).

A codec case must fail FAST with a named error: a ~70-byte crafted
stream must not buy minutes of CPU or gigabytes of RAM.
"""

from __future__ import annotations

import time

import numpy as np
import pytest

from pubscience_spark.kernels.jpeg2000 import (Jp2Error, decode_jpx,
                                               encode_jpx)


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
