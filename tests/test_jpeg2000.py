"""JPEG 2000 (ITU-T T.800) codec: MQ coder round trips and Qe-table
invariants, round trips across the option matrix against the in-repo
spec encoder, named-error tiers and JP2 boxes."""

import random

import numpy as np
import pytest

from pubscience_spark.kernels import jpeg2000 as J
from pubscience_spark.kernels.jpeg2000 import (Jp2Error, MQDecoder,
                                               MQEncoder, decode_jpx,
                                               encode_jpx)


def _img(h, w, seed=3, depth=8):
    r = np.random.RandomState(seed)
    if depth == 8:
        return r.randint(0, 256, size=(h, w), dtype=np.uint8)
    return r.randint(0, 1 << depth, size=(h, w)).astype(np.uint16)


def _rgb(h, w, seed=4):
    r = np.random.RandomState(seed)
    return r.randint(0, 256, size=(h, w, 3), dtype=np.uint8)


# -------------------------------------------------------------- MQ coder


def test_qe_table_invariants():
    """Structural checks on the transcribed T.88 Table E.1 — the same
    catch-the-typo discipline as any transcribed spec table:
    47 states; Qe probabilities in (0, 0x5601]; all transitions in
    range; SWITCH exactly at the three fast-attack states {0, 6, 14}
    (which all carry Qe=0x5601); state 46 is the non-adaptive
    absorbing state; NLPS never increases past NMPS chains' bound; Qe
    strictly decreases along the 14..45 steady-state MPS chain."""
    t = J.QE_TABLE
    assert len(t) == 47
    for qe, nmps, nlps, switch in t:
        assert 0 < qe <= 0x5601
        assert 0 <= nmps < 47 and 0 <= nlps < 47
        assert switch in (0, 1)
    assert [i for i, r in enumerate(t) if r[3]] == [0, 6, 14]
    assert all(t[i][0] == 0x5601 for i in (0, 6, 14, 46))
    assert t[46][1] == 46 and t[46][2] == 46
    chain = [t[i][0] for i in range(14, 46)]
    assert chain == sorted(chain, reverse=True)
    # NMPS along the steady chain is i+1 until the terminal 45→45
    assert all(t[i][1] == i + 1 for i in range(14, 45))
    assert t[45][1] == 45


def test_mq_roundtrip_randomized():
    rng = random.Random(42)
    for _ in range(40):
        p = rng.choice([0.01, 0.1, 0.5, 0.9, 0.99])
        n = rng.choice([1, 3, 64, 500, 3000])
        bits = [int(rng.random() < p) for _ in range(n)]
        enc = MQEncoder()
        cx = bytearray(4)
        for b in bits:
            enc.encode(cx, 1, b)
        data = enc.flush()
        dec = MQDecoder(data)
        cx2 = bytearray(4)
        assert [dec.decode(cx2, 1) for _ in bits] == bits
        # compression sanity: skewed streams beat 1 bit/symbol
        if n >= 500 and p in (0.01, 0.99):
            assert len(data) * 8 < n // 2


def test_mq_multi_context_interleaved():
    rng = random.Random(7)
    seq = [(rng.randrange(8), rng.randrange(2)) for _ in range(2000)]
    enc = MQEncoder()
    cx = bytearray(8)
    for label, b in seq:
        enc.encode(cx, label, b)
    data = enc.flush()
    dec = MQDecoder(data)
    cx2 = bytearray(8)
    assert [dec.decode(cx2, lb) for lb, _ in seq] == [b for _, b in seq]


# --------------------------------------------------------------- wavelets


@pytest.mark.parametrize("n", [1, 2, 3, 5, 8, 17, 64, 65])
def test_dwt53_roundtrip_exact(n):
    x = np.random.RandomState(7).randint(
        -1000, 1000, size=(n, 9)).astype(np.int64)
    assert np.array_equal(J._syn53(*J._ana53(x)), x)


@pytest.mark.parametrize("n", [1, 2, 3, 5, 8, 17, 64, 65])
def test_dwt97_roundtrip_close(n):
    x = np.random.RandomState(7).randn(n, 9) * 100
    assert np.allclose(J._syn97(*J._ana97(x)), x, atol=1e-9)


# ----------------------------------------------------------------- tier-1


@pytest.mark.parametrize("ori", [0, 1, 2, 3])
def test_tier1_roundtrip_orientations(ori):
    r = np.random.RandomState(5)
    c = r.randint(-200, 200, size=(13, 7)).astype(np.int64)
    c[r.rand(13, 7) < 0.5] = 0
    data, npasses, zbp = J.encode_cblk(c, ori, 12)
    back, lowest = J.decode_cblk(data, 7, 13, ori, 12, zbp, npasses,
                                 False)
    assert lowest == 0 and np.array_equal(back, c)


def test_tier1_truncated_passes_midpoint():
    """Dropping trailing passes reconstructs within half of the last
    decoded bit-plane (the mid-point rule for truncated streams)."""
    r = np.random.RandomState(9)
    c = r.randint(-1000, 1000, size=(16, 16)).astype(np.int64)
    data, npasses, zbp = J.encode_cblk(c, 0, 14)
    back, lowest = J.decode_cblk(data, 16, 16, 0, 14, zbp,
                                 npasses - 3, False)
    assert lowest > 0
    assert np.max(np.abs(back - c)) < (1 << (lowest + 1))


# ------------------------------------------------------- full round trips


@pytest.mark.parametrize("kw", [
    {}, {"levels": 0}, {"levels": 5}, {"cb": (8, 8)},
    {"cb": (64, 16), "levels": 1}, {"layers": 2},
    {"sop": True, "eph": True}, {"segsym": True},
])
def test_roundtrip_gray_reversible(kw):
    img = _img(45, 52)
    got = decode_jpx(encode_jpx(img, jp2=False, **kw))
    assert got["width"] == 52 and got["height"] == 45
    assert np.array_equal(got["samples"][..., 0], img)


@pytest.mark.parametrize("prog", ["LRCP", "RLCP", "RPCL", "PCRL",
                                  "CPRL"])
def test_roundtrip_rgb_rct_progressions(prog):
    img = _rgb(33, 40)
    got = decode_jpx(encode_jpx(img, jp2=False, prog=prog, levels=2))
    assert got["components"] == 3
    assert np.array_equal(got["samples"], img)


@pytest.mark.parametrize("shape", [(129, 3), (1, 77), (4, 4)])
def test_roundtrip_degenerate_shapes(shape):
    img = _img(*shape, seed=8)
    got = decode_jpx(encode_jpx(img, jp2=False, levels=3))
    assert np.array_equal(got["samples"][..., 0], img)


def test_roundtrip_16bit_and_multilayer_rgb():
    img = _img(20, 20, seed=6, depth=16)
    got = decode_jpx(encode_jpx(img, jp2=False, levels=2))
    assert got["bit_depth"] == 16
    assert got["samples"].dtype == np.uint16
    assert np.array_equal(got["samples"][..., 0], img)
    rgb = _rgb(24, 19)
    got = decode_jpx(encode_jpx(rgb, jp2=False, layers=2, levels=2))
    assert np.array_equal(got["samples"], rgb)


def test_roundtrip_irreversible_97():
    img, rgb = _img(40, 40, seed=12), _rgb(30, 30, seed=13)
    got = decode_jpx(encode_jpx(img, jp2=False, reversible=False,
                                levels=3))
    assert np.abs(got["samples"][..., 0].astype(int)
                  - img.astype(int)).max() <= 3
    got = decode_jpx(encode_jpx(rgb, jp2=False, reversible=False,
                                levels=2))                 # ICT path
    assert np.abs(got["samples"].astype(int)
                  - rgb.astype(int)).max() <= 3


def test_jp2_container_and_raw_codestream():
    img = _img(16, 16)
    wrapped = encode_jpx(img, jp2=True)
    assert wrapped[:12] == b"\x00\x00\x00\x0cjP  \r\n\x87\n"
    raw = encode_jpx(img, jp2=False)
    assert raw[:2] == b"\xff\x4f"
    for blob in (wrapped, raw):
        assert np.array_equal(decode_jpx(blob)["samples"][..., 0],
                              img)


def test_smooth_and_constant_images():
    smooth = np.tile(np.arange(64, dtype=np.uint8), (64, 1))
    const = np.full((40, 40), 200, dtype=np.uint8)
    for img in (smooth, const):
        got = decode_jpx(encode_jpx(img, jp2=False, levels=3))
        assert np.array_equal(got["samples"][..., 0], img)


# ------------------------------------------------------------ named errors


def test_named_error_tiers():
    img = _img(16, 16)
    blob = bytearray(encode_jpx(img, jp2=False, levels=1))

    with pytest.raises(Jp2Error, match="not-jpeg2000"):
        decode_jpx(b"\x89PNG1234")

    # COD Scod bit 0: user precinct sizes
    cod_at = bytes(blob).index(b"\xff\x52") + 4
    bad = bytes(blob[:cod_at]) + b"\x01" + bytes(blob[cod_at + 1:])
    with pytest.raises(Jp2Error, match="user-precincts"):
        decode_jpx(bad)

    # code-block style: bypass bit
    bad = bytearray(blob)
    bad[cod_at + 8] = 0x01
    with pytest.raises(Jp2Error, match="cbstyle"):
        decode_jpx(bytes(bad))

    # multi-tile grid (XTsiz < Xsiz)
    siz_at = bytes(blob).index(b"\xff\x51") + 4
    bad = bytearray(blob)
    bad[siz_at + 22:siz_at + 26] = (8).to_bytes(4, "big")   # XTsiz
    with pytest.raises(Jp2Error, match="multitile"):
        decode_jpx(bytes(bad))

    # component subsampling
    bad = bytearray(blob)
    bad[siz_at + 37] = 2                                     # XRsiz
    with pytest.raises(Jp2Error, match="subsampling"):
        decode_jpx(bytes(bad))

    # RGN marker injected into the main header
    rgn = b"\xff\x5e\x00\x05\x00\x00\x07"
    cod0 = bytes(blob).index(b"\xff\x52")
    bad = bytes(blob[:cod0]) + rgn + bytes(blob[cod0:])
    with pytest.raises(Jp2Error, match="rgn"):
        decode_jpx(bad)

    # truncated packet body
    with pytest.raises(Jp2Error):
        decode_jpx(bytes(blob[:len(blob) // 2]))


def test_jp2_box_walk_errors():
    with pytest.raises(Jp2Error, match="no-codestream"):
        J._jp2_find_codestream(
            b"\x00\x00\x00\x0cjP  \r\n\x87\n"
            b"\x00\x00\x00\x08ftyp")
    with pytest.raises(Jp2Error, match="box-truncated"):
        J._jp2_find_codestream(b"\x00\x00\x00\xFFjp2c")


def test_coc_override_and_named_errors():
    """COC per-component overrides parse properly (round-7 review: the
    synthetic-COD hack put Scoc into the progression byte, so a
    user-precinct COC was silently accepted)."""
    img = _img(24, 24, seed=40)
    blob = encode_jpx(img, jp2=False, levels=2, cb=(16, 16))
    qcd_at = blob.index(b"\xff\x5c")
    # valid COC for comp 0: levels=1, cb 8x8, style 0, 5/3
    coc = b"\xff\x53" + (9).to_bytes(2, "big") + bytes(
        [0, 0, 1, 1, 1, 0, 1])
    patched = blob[:qcd_at] + coc + blob[qcd_at:]
    with pytest.raises(Jp2Error):                  # packets mismatch
        decode_jpx(patched)                        # ... but NO wrong pixels
    # user-precinct COC -> the NAMED error, before any packet parse
    coc_bad = b"\xff\x53" + (9).to_bytes(2, "big") + bytes(
        [0, 1, 1, 1, 1, 0, 1])
    with pytest.raises(Jp2Error, match="user-precincts"):
        decode_jpx(blob[:qcd_at] + coc_bad + blob[qcd_at:])
    # COC matching the COD exactly decodes bit-identically
    coc_same = b"\xff\x53" + (9).to_bytes(2, "big") + bytes(
        [0, 0, 2, 2, 2, 0, 1])
    got = decode_jpx(blob[:qcd_at] + coc_same + blob[qcd_at:])
    assert np.array_equal(got["samples"][..., 0], img)


def test_tilepart_header_markers():
    """Tile-part headers are walked marker by marker: a tile-level COD
    override is a NAMED error (it would silently change the decode
    parameters), COM is skipped, and SOT header bytes can never
    false-match as SOD."""
    import struct as st
    img = _img(16, 16, seed=41)
    blob = bytearray(encode_jpx(img, jp2=False, levels=1))
    sot_at = bytes(blob).index(b"\xff\x90")
    sod_at = bytes(blob).index(b"\xff\x93", sot_at)

    def with_inserted(seg):
        out = bytearray(blob)
        out[sod_at:sod_at] = seg
        psot = st.unpack(">I", bytes(out[sot_at + 6:sot_at + 10]))[0]
        out[sot_at + 6:sot_at + 10] = st.pack(">I", psot + len(seg))
        return bytes(out)

    cod_seg = b"\xff\x52" + (12).to_bytes(2, "big") + bytes(
        [0, 0, 0, 1, 0, 1, 1, 1, 0, 1])
    with pytest.raises(Jp2Error, match="tilepart-ff52"):
        decode_jpx(with_inserted(cod_seg))
    com_seg = b"\xff\x64" + (7).to_bytes(2, "big") + b"\x00\x01abc"
    got = decode_jpx(with_inserted(com_seg))
    assert np.array_equal(got["samples"][..., 0], img)


def test_oversized_image_named_error():
    """Default precincts are 2^15, not unbounded: a larger grid means
    multiple precincts per resolution, which the single-precinct
    iterator cannot parse — named error instead of desynced packets."""
    img = _img(8, 8, seed=42)
    blob = bytearray(encode_jpx(img, jp2=False, levels=1))
    siz_at = bytes(blob).index(b"\xff\x51") + 4
    blob[siz_at + 2:siz_at + 6] = (40000).to_bytes(4, "big")   # Xsiz
    blob[siz_at + 18:siz_at + 22] = (40000).to_bytes(4, "big")  # XTsiz
    with pytest.raises(Jp2Error, match="precinct-count"):
        decode_jpx(bytes(blob))


def test_jp2_palette_named_error():
    """pclr/cmap in jp2h would make the decoded index plane silently
    wrong pixels -> named error (round-7 review)."""
    img = _img(8, 8, seed=43)
    wrapped = bytearray(encode_jpx(img, jp2=True, levels=1))
    jp2h_at = bytes(wrapped).index(b"jp2h") - 4
    import struct as st
    ln = st.unpack(">I", bytes(wrapped[jp2h_at:jp2h_at + 4]))[0]
    pclr = st.pack(">I", 8 + 3) + b"pclr" + b"\x00\x01\x07"
    wrapped[jp2h_at + ln:jp2h_at + ln] = pclr
    wrapped[jp2h_at:jp2h_at + 4] = st.pack(">I", ln + len(pclr))
    with pytest.raises(Jp2Error, match="palette"):
        decode_jpx(bytes(wrapped))


def test_display_mapping_depth_aware():
    """to_display_uint8 scales per COMPONENT depth (round-7 review:
    blanket >>8 made 12-bit images 16x too dark and left sub-8-bit
    output unscaled)."""
    from pubscience_spark.kernels.jpeg2000 import to_display_uint8

    # 4-bit: encode with the 8-bit DC shift compensated (coeff =
    # value4 - 2^3 must survive the encoder's value8 - 2^7 shift),
    # then patch SIZ Ssiz to depth 4
    img = (_img(12, 12, seed=44) >> 4).astype(np.uint8)
    blob = bytearray(encode_jpx((img + 120).astype(np.uint8),
                                jp2=False, levels=1))
    siz_at = bytes(blob).index(b"\xff\x51") + 4
    blob[siz_at + 36] = 3                          # Ssiz: depth-1
    got = decode_jpx(bytes(blob))
    assert got["bit_depth"] == 4
    assert np.array_equal(got["samples"][..., 0], img)
    disp = to_display_uint8(got)
    assert np.array_equal(disp[..., 0], img * 17)  # 255/15

    # 12-bit: a 16-bit stream's Ssiz patched down to 12, same shift
    # compensation (+ 2^15 - 2^11)
    img12 = (_img(10, 10, seed=45, depth=16) >> 4).astype(np.uint16)
    blob = bytearray(encode_jpx((img12 + 30720).astype(np.uint16),
                                jp2=False, levels=1))
    siz_at = bytes(blob).index(b"\xff\x51") + 4
    blob[siz_at + 36] = 11
    got = decode_jpx(bytes(blob))
    assert got["bit_depth"] == 12
    assert np.array_equal(got["samples"][..., 0], img12)
    assert np.array_equal(to_display_uint8(got)[..., 0],
                          (img12 >> 4).astype(np.uint8))
