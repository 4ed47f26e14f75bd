"""JBIG2 kernel (kernels/jbig2): MQ coder round-trips + Qe-table
structural invariants, generic regions across templates/TPGDON/AT/MMR,
embedded segment layer with composition, and named-error tiers."""

from __future__ import annotations

import random

import numpy as np
import pytest

from pubscience_spark.kernels import jbig2 as J
from pubscience_spark.kernels.jbig2 import (MQDecoder, MQEncoder,
                                            decode_embedded,
                                            decode_generic_region,
                                            encode_embedded,
                                            encode_generic_region,
                                            parse_segments)


def test_qe_table_invariants():
    """Structural checks on the transcribed T.88 Table E.1 — the same
    catch-the-typo discipline as the CCITT Huffman tables (round 6):
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


def _img(h=37, w=61, seed=3):
    rng = np.random.RandomState(seed)
    bm = np.zeros((h, w), dtype=np.uint8)
    bm[5:h - 8, 8:w - 12] = 1
    bm[rng.randint(0, h, 70), rng.randint(0, w, 70)] ^= 1
    return bm


@pytest.mark.parametrize("template", [0, 1, 2, 3])
@pytest.mark.parametrize("tpgdon", [False, True])
def test_generic_region_roundtrip(template, tpgdon):
    bm = _img()
    data = encode_generic_region(bm, template=template, tpgdon=tpgdon)
    got = decode_generic_region(data, bm.shape[1], bm.shape[0],
                                template=template, tpgdon=tpgdon)
    assert np.array_equal(got, bm)


def test_generic_region_custom_at_and_mmr():
    bm = _img(seed=9)
    at = [(1, -1), (-2, -1), (1, -2), (-1, -2)]   # non-nominal AT
    data = encode_generic_region(bm, template=0, at=at)
    got = decode_generic_region(data, bm.shape[1], bm.shape[0],
                                template=0, at=at)
    assert np.array_equal(got, bm)
    # a decode with the WRONG at must not reproduce the bitmap
    wrong = decode_generic_region(data, bm.shape[1], bm.shape[0],
                                  template=0)
    assert not np.array_equal(wrong, bm)
    mmr = encode_generic_region(bm, mmr=True)
    assert np.array_equal(
        decode_generic_region(mmr, bm.shape[1], bm.shape[0], mmr=True),
        bm)
    with pytest.raises(J.Jbig2Error, match="at-not-causal"):
        encode_generic_region(bm, template=0,
                              at=[(1, 0), (-2, -1), (1, -2), (-1, -2)])
    # TPGDON pays off on a row-repetitive bitmap
    rep = np.tile(_img(h=1, w=61, seed=4), (40, 1))
    assert len(encode_generic_region(rep, tpgdon=True)) \
        < len(encode_generic_region(rep, tpgdon=False))


def test_embedded_roundtrip_and_globals_split():
    bm = _img(seed=11)
    blob = encode_embedded(bm)
    segs = parse_segments(blob)
    assert [s["type"] for s in segs] == [48, 39, 49]
    assert np.array_equal(decode_embedded(blob), bm)
    # PDF organisation: page info travels in /JBIG2Globals, the
    # region in the image stream — same page
    cut = blob.index(segs[1]["data"]) - 11      # region header start
    glob, data = blob[:cut], blob[cut:]
    assert parse_segments(glob)[0]["type"] == 48
    assert np.array_equal(decode_embedded(data, glob), bm)


def test_embedded_multi_region_composition():
    """Two regions composed onto one page: OR at an offset, then an
    XOR patch; a REPLACE region overwrites; page grows for a region
    past the declared height (striped-page behavior)."""
    a, b = _img(20, 30, 1), _img(8, 10, 2)
    blob_a = encode_embedded(a)
    segs = parse_segments(blob_a)

    def region_seg(bm, x, y, comb, num):
        body = (bm.shape[1].to_bytes(4, "big")
                + bm.shape[0].to_bytes(4, "big")
                + x.to_bytes(4, "big") + y.to_bytes(4, "big")
                + bytes([comb]) + bytes([0]))      # template 0 flags
        for ax, ay in J.NOMINAL_AT[0]:
            body += ax.to_bytes(1, "big", signed=True)
            body += ay.to_bytes(1, "big", signed=True)
        body += encode_generic_region(bm)
        return (num.to_bytes(4, "big") + bytes([38]) + b"\x00"
                + bytes([1]) + len(body).to_bytes(4, "big") + body)

    page_seg = blob_a[:blob_a.index(segs[1]["data"]) - 11]
    blob = page_seg + region_seg(a, 0, 0, 0, 1) \
        + region_seg(b, 5, 4, 2, 2)                # XOR patch
    got = decode_embedded(blob)
    want = a.copy()
    want[4:12, 5:15] ^= b
    assert np.array_equal(got, want)
    # REPLACE + growth below the declared page
    blob2 = page_seg + region_seg(a, 0, 0, 0, 1) \
        + region_seg(b, 2, 18, 4, 2)               # y+8 > 20 → grow
    got2 = decode_embedded(blob2)
    assert got2.shape == (26, 30)
    assert np.array_equal(got2[18:26, 2:12], b)


def test_named_errors():
    bm = _img(10, 12, 5)
    blob = encode_embedded(bm)
    # Huffman-coded symbol dictionary → named unsupported error (the
    # tier boundary; arithmetic dictionaries decode since round 7b)
    huff = (1).to_bytes(2, "big") + b"\x00" * 10
    sym = (b"\x00\x00\x00\x07" + bytes([0]) + b"\x00" + bytes([1])
           + len(huff).to_bytes(4, "big")) + huff
    with pytest.raises(J.Jbig2Error, match="symdict-huffman"):
        decode_embedded(sym + blob)
    # INTERMEDIATE halftone regions (type 20) stay a named error
    # (immediate halftones decode since round 7c)
    half = (b"\x00\x00\x00\x07" + bytes([20]) + b"\x00" + bytes([1])
            + (0).to_bytes(4, "big"))
    with pytest.raises(J.Jbig2Error, match="intermediate-20"):
        decode_embedded(half + blob)
    # unknown data length sentinel
    unk = (b"\x00\x00\x00\x07" + bytes([38]) + b"\x00" + bytes([1])
           + b"\xff\xff\xff\xff")
    with pytest.raises(J.Jbig2Error, match="unknown-length"):
        decode_embedded(unk)
    with pytest.raises(J.Jbig2Error, match="truncated"):
        decode_embedded(blob[:-4])
    with pytest.raises(J.Jbig2Error, match="no-page"):
        decode_embedded(b"")
    with pytest.raises(J.Jbig2Error, match="zero-dims"):
        decode_generic_region(b"", 0, 5)


# ------------------------- symbol-dictionary + text-region tier (r7b) --

def _glyph(seed, h, w):
    r = np.random.RandomState(seed)
    g = (r.rand(h, w) > 0.6).astype(np.uint8)
    g[0, 0] = 1
    g[-1, -1] = 1
    return g


def test_int_arith_coder_roundtrip():
    """A.2/A.3 integer coder: every range boundary, signs, OOB."""
    from pubscience_spark.kernels.jbig2 import (OOB, _decode_int,
                                                _encode_int, _IntCtx)
    vals = [0, 1, -1, 3, 4, 19, 20, 83, 84, 339, 340, 4435, 4436,
            100000, -4436, -340, 2 ** 20, OOB, 7, -19, OOB, 0]
    enc = MQEncoder()
    ic = J._IntCtx()
    for v in vals:
        _encode_int(enc, ic, v)
    dec = MQDecoder(enc.flush())
    ic2 = _IntCtx()
    got = [_decode_int(dec, ic2) for _ in vals]
    assert all((a is OOB and b is OOB) or a == b
               for a, b in zip(vals, got))


def _text_fixture():
    syms = [_glyph(1, 8, 5), _glyph(2, 8, 6), _glyph(3, 10, 4),
            _glyph(4, 6, 6)]
    inst = [(0, 2, 3), (1, 9, 3), (2, 17, 2), (3, 23, 5), (0, 31, 3),
            (2, 37, 20), (1, 45, 21), (3, 2, 22), (0, 52, 20)]
    want = np.zeros((32, 60), np.uint8)
    for sid, s, t in inst:
        hh, ww = syms[sid].shape
        want[t:t + hh, s:s + ww] |= syms[sid]
    return syms, inst, want


@pytest.mark.parametrize("kw", [{}, {"strips_log": 2},
                                {"template": 2},
                                {"ds_offset": 3},
                                {"strips_log": 1, "template": 1}])
def test_symbol_text_tier_roundtrip(kw):
    """Symbol dictionary (height classes, shared MQ/GB state) + text
    region (IADT/IAFS/IADS/IAIT/IAID) round trip across strip counts,
    templates, and DS offsets — incl. the export-order id remap."""
    from pubscience_spark.kernels.jbig2 import encode_embedded_text
    syms, inst, want = _text_fixture()
    got = decode_embedded(encode_embedded_text(syms, inst, 60, 32,
                                               **kw))
    assert np.array_equal(got, want)


def test_symbol_text_clipping_and_reuse():
    """Instances reaching past the region edge clip (not crash); the
    same symbol id reused many times decodes identically each time."""
    from pubscience_spark.kernels.jbig2 import encode_embedded_text
    syms = [_glyph(9, 7, 7)]
    inst = [(0, 55, 28), (0, 0, 0), (0, 10, 0), (0, 20, 0)]
    want = np.zeros((32, 60), np.uint8)
    for sid, s, t in inst:
        hh, ww = syms[sid].shape
        he, we = min(32 - t, hh), min(60 - s, ww)
        want[t:t + he, s:s + we] |= syms[sid][:he, :we]
    got = decode_embedded(encode_embedded_text(syms, inst, 60, 32))
    assert np.array_equal(got, want)


def test_symbol_text_named_error_tiers():
    """Refinement text regions and bad export runs stay named."""
    from pubscience_spark.kernels.jbig2 import (_SYMBOL_DICT,
                                                encode_embedded_text)
    syms, inst, _ = _text_fixture()
    blob = encode_embedded_text(syms, inst, 60, 32)
    segs = parse_segments(blob)
    # flip the text-region HUFFMAN flag (bit 0 of the 2-byte flags at
    # payload offset 17) and rebuild that segment (REFINE is decoded
    # since round 7c, so the named-error probe moved to Huffman)
    t = segs[2]
    assert t["type"] == 6
    body = bytearray(t["data"])
    body[17 + 1] = b"\x01"[0] | body[18]
    # reassemble: find the segment's payload inside the blob
    i = blob.index(t["data"])
    patched = blob[:i] + bytes(body) + blob[i + len(body):]
    with pytest.raises(J.Jbig2Error, match="textregion-huffman"):
        decode_embedded(patched)
    # a text region with NO referred symbol dictionary
    d = segs[1]
    assert d["type"] == _SYMBOL_DICT
    # dict segment header: 4 num + 1 flags + 1 rts + 1 page + 4 len
    no_dict = blob[:blob.index(d["data"]) - 11] \
        + blob[blob.index(d["data"]) + len(d["data"]):]
    with pytest.raises(J.Jbig2Error, match="no-symbols"):
        decode_embedded(no_dict)


def test_symdict_ctx_used_named_error():
    """Flags bit 8 (bitmap coding context used) needs retained state we
    do not carry — must be a NAMED error, not silent garbage glyphs."""
    from pubscience_spark.kernels.jbig2 import encode_embedded_text
    syms, inst, _ = _text_fixture()
    blob = encode_embedded_text(syms, inst, 60, 32)
    segs = parse_segments(blob)
    d = segs[1]
    body = bytearray(d["data"])
    body[0] |= 1                                   # bit 8 of BE u16
    i = blob.index(d["data"])
    patched = blob[:i] + bytes(body) + blob[i + len(body):]
    with pytest.raises(J.Jbig2Error, match="ctx-used"):
        decode_embedded(patched)


def test_textregion_instance_count_guard():
    """An attacker-controlled SBNUMINSTANCES u32 must not drive a
    multi-billion-iteration decode loop (the MQ coder never exhausts)."""
    from pubscience_spark.kernels.jbig2 import encode_embedded_text
    syms, inst, _ = _text_fixture()
    blob = encode_embedded_text(syms, inst, 60, 32)
    segs = parse_segments(blob)
    t = segs[2]
    body = bytearray(t["data"])
    body[19:23] = (0xFFFFFFFE).to_bytes(4, "big")  # SBNUMINSTANCES
    i = blob.index(t["data"])
    patched = blob[:i] + bytes(body) + blob[i + len(body):]
    with pytest.raises(J.Jbig2Error, match="textregion-count"):
        decode_embedded(patched)


def test_symdict_stall_guards():
    """Zero-progress loops (endless empty height classes; endless
    zero-length export runs) terminate with named errors — past-EOF
    the MQ decoder yields bits forever, so corrupt streams cannot be
    allowed to 'run out of data'."""
    from pubscience_spark.kernels.jbig2 import (
        NOMINAL_AT, OOB, MQEncoder, _ctx_bits, _decode_symbol_dict,
        _encode_generic_inner, _encode_int, _IntCtx, _positions)

    def payload(encode_body):
        enc = MQEncoder()
        iadh, iadw, iaex = _IntCtx(), _IntCtx(), _IntCtx()
        gb_cx = bytearray(1 << _ctx_bits(0))
        encode_body(enc, iadh, iadw, iaex, gb_cx)
        head = (0).to_bytes(2, "big")              # flags: template 0
        for ax, ay in NOMINAL_AT[0]:
            head += ax.to_bytes(1, "big", signed=True)
            head += ay.to_bytes(1, "big", signed=True)
        head += (1).to_bytes(4, "big")             # SDNUMEXSYMS
        head += (1).to_bytes(4, "big")             # SDNUMNEWSYMS
        return head + enc.flush()

    pos = _positions(0, NOMINAL_AT[0])

    def empty_classes(enc, iadh, iadw, iaex, gb_cx):
        for _ in range(200):                       # > n_new + 64
            _encode_int(enc, iadh, 1)              # new height class
            _encode_int(enc, iadw, OOB)            # ... with 0 symbols

    with pytest.raises(J.Jbig2Error, match="symdict-stall"):
        _decode_symbol_dict({"data": payload(empty_classes),
                             "refs": []}, {})

    def zero_export_runs(enc, iadh, iadw, iaex, gb_cx):
        _encode_int(enc, iadh, 1)
        _encode_int(enc, iadw, 1)
        _encode_generic_inner(enc, gb_cx,
                              np.ones((1, 1), np.uint8), pos)
        _encode_int(enc, iadw, OOB)
        for _ in range(50):                        # > 2*len(syms)+2
            _encode_int(enc, iaex, 0)

    with pytest.raises(J.Jbig2Error, match="export-stall"):
        _decode_symbol_dict({"data": payload(zero_export_runs),
                             "refs": []}, {})


# ------------------------------------------------ refinement tier (r7c)


def test_refinement_inner_roundtrip():
    """§6.3 generic refinement coding against a reference, both
    templates, with offsets and degenerate shapes."""
    from pubscience_spark.kernels.jbig2 import (
        _GR_CTX_BITS, _decode_refinement_inner,
        _encode_refinement_inner)
    rng = np.random.RandomState(2)
    for template in (0, 1):
        for (h, w, dx, dy) in ((12, 17, 0, 0), (9, 9, 2, -1),
                               (1, 5, 0, 0), (16, 4, -3, 2)):
            ref = (rng.rand(h, w) > 0.5).astype(np.uint8)
            tgt = ref.copy()
            tgt[rng.rand(h, w) < 0.12] ^= 1
            enc = MQEncoder()
            cx = bytearray(1 << _GR_CTX_BITS[template])
            _encode_refinement_inner(enc, cx, tgt, ref, dx, dy,
                                     template)
            dec = MQDecoder(enc.flush())
            cx2 = bytearray(1 << _GR_CTX_BITS[template])
            got = _decode_refinement_inner(dec, cx2, w, h, ref, dx,
                                           dy, template)
            assert np.array_equal(got, tgt), (template, h, w)


def test_refinement_region_segment():
    """A standalone immediate refinement region (type 42) refines the
    PAGE contents under its box — a generic region paints the base,
    the refinement flips a sprinkle of pixels, REPLACE composes."""
    from pubscience_spark.kernels.jbig2 import (
        _PAGE_INFO, encode_embedded, encode_refinement_segment_payload,
        parse_segments)
    rng = np.random.RandomState(5)
    base = (rng.rand(20, 30) > 0.6).astype(np.uint8)
    refined = base[4:14, 5:25].copy()
    refined[rng.rand(10, 20) < 0.15] ^= 1
    for template in (0, 1):
        payload = encode_refinement_segment_payload(
            refined, base[4:14, 5:25], 5, 4, template=template)
        blob = encode_embedded(base)
        segs = parse_segments(blob)
        # insert the refinement segment before end-of-page
        last = segs[-1]
        cut = blob.index(last["data"]) - 11 if last["data"] \
            else len(blob) - 11
        head = (9).to_bytes(4, "big") + bytes([42, 0, 1]) \
            + len(payload).to_bytes(4, "big")
        patched = blob[:cut] + head + payload + blob[cut:]
        page = decode_embedded(patched)
        want = base.copy()
        want[4:14, 5:25] = refined
        assert np.array_equal(page, want), template
    def seg42(body, stype=42):
        return ((9).to_bytes(4, "big") + bytes([stype, 0, 1])
                + len(body).to_bytes(4, "big") + bytes(body))

    # TPGRON stays a named error
    bad = bytearray(payload)
    bad[17] |= 2
    with pytest.raises(J.Jbig2Error, match="tpgron"):
        decode_embedded(blob[:cut] + seg42(bad) + blob[cut:])
    # INTERMEDIATE (type 40) regions are never composed — named error
    with pytest.raises(J.Jbig2Error, match="intermediate"):
        decode_embedded(blob[:cut] + seg42(payload, 40) + blob[cut:])
    # truncated template-0 segment (AT/data bytes missing) must raise,
    # not compose deterministic garbage (round-7 review)
    short = encode_refinement_segment_payload(
        refined, base[4:14, 5:25], 5, 4, template=0)[:18]
    assert short[17] & 1 == 0                      # template 0
    with pytest.raises(J.Jbig2Error, match="refinement-truncated"):
        decode_embedded(blob[:cut] + seg42(short) + blob[cut:])


def test_symbol_dict_refagg_roundtrip():
    """SDREFAGG=1 dictionaries: new symbols refinement-coded against
    referred-dictionary inputs AND against earlier new symbols in the
    same dictionary; the composite feeds a text region."""
    from pubscience_spark.kernels.jbig2 import (
        _SYMBOL_DICT, _decode_symbol_dict,
        encode_symbol_dict_refagg_payload)
    rng = np.random.RandomState(7)
    inputs = [_glyph(1, 6, 5), _glyph(2, 6, 7)]
    v1 = inputs[0].copy(); v1[rng.rand(6, 5) < 0.2] ^= 1
    v2 = inputs[1].copy(); v2[0, 0] ^= 1
    v3 = v1.copy(); v3[-1, -1] ^= 1                # refines a NEW sym
    spec = [(v1, 0, 0, 0), (v2, 1, 0, 0), (v3, 2, 0, 0)]
    payload = encode_symbol_dict_refagg_payload(inputs, spec)
    got = _decode_symbol_dict({"data": payload, "refs": [99]},
                              {99: inputs})
    assert len(got) == 5
    for want, have in zip(inputs + [v1, v2, v3], got):
        assert np.array_equal(want, have)
    # REFAGGNINST > 1 stays a named error: hand-build a stream whose
    # first symbol declares an aggregate of 2 instances
    from pubscience_spark.kernels.jbig2 import (
        NOMINAL_AT, MQEncoder, _encode_int, _IntCtx)
    enc = MQEncoder()
    iadh, iadw = _IntCtx(), _IntCtx()
    iaai = _IntCtx()
    _encode_int(enc, iadh, 6)
    _encode_int(enc, iadw, 5)
    _encode_int(enc, iaai, 2)                      # aggregate of 2
    flags = 2 | (1 << 12)
    pay = flags.to_bytes(2, "big")
    for (ax, ay) in NOMINAL_AT[0]:
        pay += ax.to_bytes(1, "big", signed=True)
        pay += ay.to_bytes(1, "big", signed=True)
    pay += (1).to_bytes(4, "big") + (1).to_bytes(4, "big")
    pay += enc.flush()
    with pytest.raises(J.Jbig2Error, match="refagg-aggregate"):
        _decode_symbol_dict({"data": pay, "refs": []}, {})


def test_text_region_refine_instances():
    """REFINE=1 text regions: per-instance IARI bit, refined bitmaps
    with size deltas placed alongside plain instances, through
    decode_embedded."""
    from pubscience_spark.kernels.jbig2 import encode_embedded_text

    rng = np.random.RandomState(9)
    syms = [_glyph(11, 8, 5), _glyph(12, 8, 6)]
    r1 = syms[0].copy(); r1[rng.rand(8, 5) < 0.25] ^= 1
    r2 = np.pad(syms[1], ((0, 2), (1, 0)))         # bigger refinement
    r2[rng.rand(10, 7) < 0.1] ^= 1
    inst = [(0, 2, 3), (1, 9, 3, r2, 0, 0), (0, 20, 3, r1, 0, 0),
            (1, 30, 3)]
    want = np.zeros((16, 40), np.uint8)
    for it in inst:
        bmp = it[3] if len(it) > 3 else syms[it[0]]
        hh, ww = bmp.shape
        want[it[2]:it[2] + hh, it[1]:it[1] + ww] |= bmp
    blob = encode_embedded_text(syms, inst, 40, 16)
    got = decode_embedded(blob)
    assert np.array_equal(got, want)


def test_halftone_region_roundtrip():
    """Pattern dictionary + halftone region (r7c): gray-coded bitplane
    image selecting patterns onto the page — embedded round trip and a
    named-error tier check."""
    from pubscience_spark.kernels.jbig2 import (
        _PAGE_INFO, encode_halftone_region_payload,
        encode_pattern_dict_payload)

    rng = np.random.RandomState(4)
    # 6 density patterns, 4x4 each
    pats = []
    for k in range(6):
        p = np.zeros((4, 4), np.uint8)
        flat = p.ravel()
        flat[rng.permutation(16)[:k * 3]] = 1
        pats.append(p)
    grid = rng.randint(0, 6, size=(5, 8))
    w, h = 8 * 4, 5 * 4
    dict_payload = encode_pattern_dict_payload(pats)
    half_payload = encode_halftone_region_payload(
        grid, len(pats), (4, 4), w, h)

    def seg(num, stype, refs, payload):
        head = num.to_bytes(4, "big") + bytes([stype])
        head += bytes([len(refs) << 5])
        for r in refs:
            head += r.to_bytes(1, "big")
        head += bytes([1])
        head += len(payload).to_bytes(4, "big")
        return head + payload

    page_info = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
                 + b"\x00" * 8 + b"\x00" + b"\x00\x00")
    blob = (seg(0, _PAGE_INFO, [], page_info)
            + seg(1, 16, [], dict_payload)
            + seg(2, 22, [1], half_payload)
            + seg(3, 49, [], b""))
    got = decode_embedded(blob)
    want = np.zeros((h, w), np.uint8)
    for m in range(5):
        for n in range(8):
            want[4 * m:4 * m + 4, 4 * n:4 * n + 4] = pats[grid[m, n]]
    assert np.array_equal(got, want)

    # ENABLESKIP stays a named error
    bad = bytearray(half_payload)
    bad[17] |= 8
    blob_bad = (seg(0, _PAGE_INFO, [], page_info)
                + seg(1, 16, [], dict_payload)
                + seg(2, 22, [1], bytes(bad)))
    with pytest.raises(J.Jbig2Error, match="enableskip"):
        decode_embedded(blob_bad)


def test_halftone_edge_cases():
    """Round-7 review: truncated headers raise the named error (not
    garbage pixels); a single-pattern dictionary carries ZERO gray
    bitplanes (HBPP = ceil(log2(1)) = 0) and tiles pattern 0; mixed
    pattern shapes across referred dictionaries are a named error."""
    from pubscience_spark.kernels.jbig2 import (
        _PAGE_INFO, _decode_halftone_region,
        encode_halftone_region_payload, encode_pattern_dict_payload)

    pat = np.array([[1, 0], [0, 1]], np.uint8)
    dict_payload = encode_pattern_dict_payload([pat])
    half_payload = encode_halftone_region_payload(
        np.zeros((3, 4), np.int64), 1, (2, 2), 8, 6)

    def seg(num, stype, refs, payload):
        head = num.to_bytes(4, "big") + bytes([stype])
        head += bytes([len(refs) << 5])
        for r in refs:
            head += r.to_bytes(1, "big")
        head += bytes([1]) + len(payload).to_bytes(4, "big")
        return head + payload

    page_info = ((8).to_bytes(4, "big") + (6).to_bytes(4, "big")
                 + b"\x00" * 8 + b"\x00" + b"\x00\x00")
    blob = (seg(0, _PAGE_INFO, [], page_info)
            + seg(1, 16, [], dict_payload)
            + seg(2, 22, [1], half_payload))
    got = decode_embedded(blob)
    assert np.array_equal(got, np.tile(pat, (3, 4)))

    # truncated halftone header -> named error
    with pytest.raises(J.Jbig2Error, match="halftone-truncated"):
        _decode_halftone_region({"data": half_payload[:36],
                                 "refs": [1]}, {1: [pat]})
    # mixed pattern shapes -> named error
    with pytest.raises(J.Jbig2Error, match="pattern-shapes"):
        _decode_halftone_region(
            {"data": half_payload, "refs": [1, 2]},
            {1: [pat], 2: [np.zeros((4, 4), np.uint8)]})
