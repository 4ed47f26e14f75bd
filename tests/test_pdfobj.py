"""Modern-PDF tier (kernels/pdfobj): object/xref-stream parsing and
ToUnicode CMap text decoding, exercised against an in-test PDF writer
that emits the PDF 1.5 compressed layout (objects inside /ObjStm Flate
streams, /Type /XRef cross-reference stream, Identity-H hex text).

The reference reads such files through pypdf/fitz
(/root/reference/src/pubscience/retrieve/OAI/parse_pdfs.py:112-241);
here the from-scratch parser must produce the same text.
"""

from __future__ import annotations

import zlib

from pubscience_spark.kernels import pdfmini, pdfobj


# ----------------------------------------------------- mini PDF writer ----

def _ser(obj) -> bytes:
    """Serialize a python value as a PDF object (test-side writer)."""
    if isinstance(obj, pdfobj.Name):
        return b"/" + str(obj).encode("latin-1")
    if isinstance(obj, bool):
        return b"true" if obj else b"false"
    if obj is None:
        return b"null"
    if isinstance(obj, (int, float)):
        return str(obj).encode("ascii")
    if isinstance(obj, pdfobj.Ref):
        return f"{obj.num} {obj.gen} R".encode("ascii")
    if isinstance(obj, bytes):
        return b"(" + obj.replace(b"\\", rb"\\").replace(
            b"(", rb"\(").replace(b")", rb"\)") + b")"
    if isinstance(obj, list):
        return b"[" + b" ".join(_ser(x) for x in obj) + b"]"
    if isinstance(obj, dict):
        parts = [b"/" + k.encode("latin-1") + b" " + _ser(v)
                 for k, v in obj.items()]
        return b"<<" + b" ".join(parts) + b">>"
    raise TypeError(type(obj))


N = pdfobj.Name
R = pdfobj.Ref


def _tounicode_cmap(charmap: dict[int, str]) -> bytes:
    """CMap with codespace, bfchar pairs AND an incrementing bfrange
    (codes 0x0100..0x0103 → 'a'..'d') to cover both mapping forms."""
    bfchars = "\n".join(
        f"<{code:04x}> <{ord(ch):04x}>" for code, ch in charmap.items())
    return (
        "/CIDInit /ProcSet findresource begin\n"
        "12 dict begin begincmap\n"
        "1 begincodespacerange\n<0000> <ffff>\nendcodespacerange\n"
        f"{len(charmap)} beginbfchar\n{bfchars}\nendbfchar\n"
        "1 beginbfrange\n<0100> <0103> <0061>\nendbfrange\n"
        "endcmap end end\n").encode("ascii")


def _hex_codes(text: str, charmap_inv: dict[str, int]) -> str:
    return "".join(f"{charmap_inv[c]:04x}" for c in text)


def build_modern_pdf(page_texts: list[str], predictor: bool = False,
                     producer: str = "pdfTeX-1.40") -> bytes:
    """PDF 1.5 file: catalog/pages/page/font dicts inside an /ObjStm,
    content + CMap as Flate streams, /Type /XRef cross-reference stream.
    Page text is shown as Identity-H 2-byte hex codes (code = 0x20+i over
    the distinct chars) so extraction REQUIRES the ToUnicode CMap; each
    page also appends codes 0x0100-0x0103, decoding to 'abcd' via the
    bfrange."""
    chars = sorted({c for t in page_texts for c in t})
    charmap = {0x20 + i: c for i, c in enumerate(chars)}
    inv = {c: code for code, c in charmap.items()}

    n_pages = len(page_texts)
    # object numbers
    o_catalog, o_pages, o_font = 1, 2, 3
    o_page0 = 4                                   # pages 4..3+n
    o_content0 = 4 + n_pages                      # contents
    o_cmap = o_content0 + n_pages
    o_info = o_cmap + 1
    o_objstm = o_info + 1
    o_xref = o_objstm + 1
    size = o_xref + 1

    # --- objects that live INSIDE the object stream ---
    in_stm: list[tuple[int, bytes]] = [
        (o_catalog, _ser({"Type": N("Catalog"), "Pages": R(o_pages, 0)})),
        (o_pages, _ser({
            "Type": N("Pages"),
            "Kids": [R(o_page0 + i, 0) for i in range(n_pages)],
            "Count": n_pages,
            # Resources on the Pages node → tests inheritance
            "Resources": {"Font": {"F9": R(o_font, 0)}}})),
        (o_font, _ser({
            "Type": N("Font"), "Subtype": N("Type0"),
            "BaseFont": N("FakeSerif"), "Encoding": N("Identity-H"),
            "ToUnicode": R(o_cmap, 0)})),
        (o_info, _ser({"Producer": producer.encode("latin-1")})),
    ]
    for i in range(n_pages):
        in_stm.append((o_page0 + i, _ser({
            "Type": N("Page"), "Parent": R(o_pages, 0),
            "Contents": R(o_content0 + i, 0),
            "MediaBox": [0, 0, 612, 792]})))

    header = " ".join(f"{num} {len(b''.join(d for _, d in in_stm[:k]))}"
                      for k, (num, _) in enumerate(in_stm))
    stm_body = header.encode("ascii") + b"".join(d for _, d in in_stm)
    first = len(header)
    objstm_flate = zlib.compress(stm_body)

    # --- top-level stream objects ---
    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}

    def emit(num: int, d: dict, body: bytes):
        offsets[num] = len(out)
        d = dict(d)
        d["Length"] = len(body)
        out.extend(f"{num} 0 obj\n".encode("ascii"))
        out.extend(_ser(d))
        out.extend(b"\nstream\n")
        out.extend(body)
        out.extend(b"\nendstream\nendobj\n")

    for i, text in enumerate(page_texts):
        content = (f"BT /F9 11 Tf <{_hex_codes(text, inv)}> Tj "
                   f"0 -14 Td <0100010101020103> Tj ET").encode("ascii")
        emit(o_content0 + i, {"Filter": N("FlateDecode")},
             zlib.compress(content))
    emit(o_cmap, {"Filter": N("FlateDecode")},
         zlib.compress(_tounicode_cmap(charmap)))
    emit(o_objstm, {"Type": N("ObjStm"), "N": len(in_stm), "First": first,
                    "Filter": N("FlateDecode")}, objstm_flate)

    # --- xref stream: W=[1 2 1]; entries for every object 0..size-1 ---
    xref_pos = len(out)
    rows = bytearray()
    stm_index = {num: k for k, (num, _) in enumerate(in_stm)}

    def row(t: int, f2: int, f3: int) -> bytes:
        return bytes([t]) + f2.to_bytes(2, "big") + bytes([f3])

    for num in range(size):
        if num == 0:
            rows += row(0, 0, 255)                          # free head
        elif num in stm_index:
            rows += row(2, o_objstm, stm_index[num])        # compressed
        elif num == o_xref:
            rows += row(1, xref_pos, 0)
        else:
            rows += row(1, offsets[num], 0)

    xref_dict = {"Type": N("XRef"), "Size": size, "W": [1, 2, 1],
                 "Root": R(o_catalog, 0), "Info": R(o_info, 0),
                 "Filter": N("FlateDecode")}
    if predictor:
        rowlen = 4
        pred = bytearray()
        prev = bytes(rowlen)
        for k in range(0, len(rows), rowlen):
            cur = rows[k:k + rowlen]
            pred.append(2)                                  # PNG Up
            pred.extend((cur[j] - prev[j]) & 0xFF for j in range(rowlen))
            prev = cur
        body = zlib.compress(bytes(pred))
        xref_dict["DecodeParms"] = {"Predictor": 12, "Columns": 4}
    else:
        body = zlib.compress(bytes(rows))
    emit(o_xref, xref_dict, body)
    out.extend(f"startxref\n{xref_pos}\n%%EOF\n".encode("ascii"))
    return bytes(out)


# ------------------------------------------------------------ the tests ---

PAGE1 = "Hello, wereld! Dit is pagina een."
PAGE2 = "Second page body text, with enough words."


def test_objstm_cmap_pdf_extracts_text():
    raw = build_modern_pdf([PAGE1, PAGE2])
    pages, error, scanned, producer = pdfmini.pdf_to_pages(raw)
    assert error is None and scanned is False
    assert producer == "pdfTeX-1.40"              # Info lives in the ObjStm
    assert len(pages) == 2
    assert pages[0].startswith(PAGE1)
    assert pages[1].startswith(PAGE2)
    # bfrange increment: codes 0x0100-0x0103 → abcd (second Tj → own line)
    assert pages[0].splitlines()[1] == "abcd"


def test_xref_stream_predictor_roundtrip():
    raw = build_modern_pdf([PAGE1], predictor=True)
    pages, error, _, _ = pdfmini.pdf_to_pages(raw)
    assert error is None and pages[0].startswith(PAGE1)
    # the predictor-encoded xref stream itself decodes to the right table
    objs = pdfobj.scan_objects(raw)
    table = pdfobj.parse_xref_streams(raw, objs)
    assert table[0][0] == 0                       # free head
    catalog_entry = table[1]
    assert catalog_entry[0] == 2                  # catalog is compressed
    xref_objs = [n for n, v in objs.items()
                 if isinstance(v, pdfobj.Stream)
                 and v.dict.get("Type") == "XRef"]
    assert table[xref_objs[0]][0] == 1            # xref stream: type 1
    assert table[xref_objs[0]][1] > 0


def test_xref_entries_locate_every_object():
    raw = build_modern_pdf([PAGE1, PAGE2])
    objs = pdfobj.scan_objects(raw)
    table = pdfobj.parse_xref_streams(raw, objs)
    # type-1 offsets must point exactly at 'N 0 obj'
    for num, fields in table.items():
        if fields[0] == 1:
            assert raw[fields[1]:fields[1] + 16].startswith(
                f"{num} 0 obj".encode())
    # type-2 entries name the real ObjStm
    objstm_nums = [n for n, v in objs.items()
                   if isinstance(v, pdfobj.Stream)
                   and v.dict.get("Type") == "ObjStm"]
    for num, fields in table.items():
        if fields[0] == 2:
            assert fields[1] == objstm_nums[0]


def test_page_tree_order_and_resource_inheritance():
    texts = [f"Page number {i} starts here." for i in range(5)]
    raw = build_modern_pdf(texts)
    doc = pdfobj.extract_document(raw)
    assert [p.splitlines()[0] for p in doc["pages"]] == texts
    # the font resource was declared only on the Pages parent node —
    # non-empty decoded text proves inheritance worked


def test_tounicode_parser_forms():
    cmap = (b"1 begincodespacerange <00> <ff> endcodespacerange\n"
            b"2 beginbfchar <41> <0058> <42> <20ac> endbfchar\n"
            b"1 beginbfrange <50> <52> [<0031> <0032> <0033>] endbfrange\n"
            b"1 beginbfrange <60> <62> <0041> endbfrange\n")
    table, width = pdfobj.parse_tounicode(cmap)
    assert width == 1                             # 1-byte codespace
    assert table[0x41] == "X" and table[0x42] == "€"
    assert table[0x50] == "1" and table[0x52] == "3"   # array form
    assert table[0x60] == "A" and table[0x62] == "C"   # increment form


def test_positioning_aware_line_assembly():
    """Real PDFs emit many show ops per visual line; fragments must
    concatenate within a line and break only on Td/T*/Tm-y/'/" moves,
    with large negative TJ kerns rendering as inter-word spaces."""
    fonts = {}
    body = (b"BT /F1 10 Tf (Frag) Tj (ment one) Tj "      # same line
            b"0 -12 Td (line two) Tj "                    # Td with dy
            b"12 0 Td ( cont) Tj "                        # dy=0: no break
            b"T* (line three) Tj "
            b"[(kerned) -300 (words) -20 (glued)] TJ "    # TJ gaps
            b"1 0 0 1 72 700 Tm (tm one) Tj "
            b"1 0 0 1 72 688 Tm (tm two) Tj "             # y moved
            b"1 0 0 1 200 688 Tm (same y) Tj "            # y same: no break
            b"(next) ' ET")                               # ' = next line
    txt = pdfobj._content_text(body, fonts)
    assert txt.splitlines() == [
        "Fragment one",
        "line two cont",
        "line threekerned wordsglued",
        "tm one",
        "tm twosame y",
        "next",
    ]


def test_legacy_pdfs_keep_the_regex_path():
    """A plain (no ObjStm/XRef/ToUnicode) PDF must take the byte-stable
    legacy path — same output as before the structured tier existed."""
    body = b"BT (plain legacy text) Tj ET"
    raw = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(body)).encode()
           + b" >>\nstream\n" + body + b"\nendstream\nendobj\n"
           b"trailer\n<< /Size 2 >>\n%%EOF\n")
    pages, error, scanned, producer = pdfmini.pdf_to_pages(raw)
    assert pages == ["plain legacy text"] and error is None


def test_modern_garbage_degrades_not_raises():
    # marker present but structure broken → falls back, never raises
    raw = b"%PDF-1.5\n/ObjStm /XRef garbage \x00\xff bytes"
    pages, error, scanned, producer = pdfmini.pdf_to_pages(raw)
    assert isinstance(pages, list)
    truncated = build_modern_pdf([PAGE1])[:200]
    pages2, error2, _, _ = pdfmini.pdf_to_pages(truncated)
    assert isinstance(pages2, list)


def test_extract_pdf_route_uses_structured_pages():
    """extract_pdf (the pipeline route) runs P5/P6 over structured pages."""
    body = ("word " * 60).strip() + "."
    raw = build_modern_pdf([body, body])
    out = pdfmini.extract_pdf(raw)
    assert out["error"] is None
    assert len(out["pages"]) == 2                 # >50-word pages kept
    assert "word word" in out["extracted_text"]


def _lzw_encode(data: bytes, early_change: int = 1) -> bytes:
    """Test-side PDF LZW encoder (MSB-first, clear=256, EOD=257)."""
    table = {bytes([i]): i for i in range(256)}
    next_code, code_len = 258, 9
    out_bits: list[tuple[int, int]] = [(256, code_len)]
    w = b""
    for b in data:
        c = bytes([b])
        if w + c in table:
            w += c
            continue
        out_bits.append((table[w], code_len))
        table[w + c] = next_code
        next_code += 1
        if next_code + early_change - 1 >= (1 << code_len) and code_len < 12:
            code_len += 1
        w = c
    if w:
        out_bits.append((table[w], code_len))
    out_bits.append((257, code_len))
    buf = bitn = acc = 0
    ba = bytearray()
    for code, width in out_bits:
        acc = (acc << width) | code
        bitn += width
        while bitn >= 8:
            bitn -= 8
            ba.append((acc >> bitn) & 0xFF)
    if bitn:
        ba.append((acc << (8 - bitn)) & 0xFF)
    return bytes(ba)


def test_lzw_decode_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st
    assert pdfobj.lzw_decode(_lzw_encode(b"")) == b""
    sample = b"-----A---B-----A---B aaaa bbbb " * 50
    assert pdfobj.lzw_decode(_lzw_encode(sample)) == sample

    @settings(max_examples=50, deadline=None)
    @given(st.binary(max_size=3000))
    def rt(data):
        assert pdfobj.lzw_decode(_lzw_encode(data)) == data
    rt()


def test_lzw_stream_in_legacy_pdf():
    body = b"BT (lzw compressed text) Tj ET"
    enc = _lzw_encode(body)
    raw = (b"%PDF-1.2\n1 0 obj\n<< /Length " + str(len(enc)).encode()
           + b" /Filter /LZWDecode >>\nstream\n" + enc
           + b"\nendstream\nendobj\n%%EOF\n")
    pages, error, _, _ = pdfmini.pdf_to_pages(raw)
    assert error is None and pages == ["lzw compressed text"]


def test_object_parser_roundtrip_hypothesis():
    """Serialize random nested PDF values with the test writer and parse
    them back — the parser must invert the writer for every shape."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    name = st.text(alphabet="abcdefgABCDEFG0123456789", min_size=1,
                   max_size=8).map(N)
    scalar = st.one_of(
        st.integers(-2**31, 2**31), st.booleans(), st.none(),
        st.binary(max_size=40), name,
        st.builds(R, st.integers(1, 9999), st.just(0)))
    value = st.recursive(
        scalar,
        lambda ch: st.one_of(
            st.lists(ch, max_size=5),
            st.dictionaries(st.text(alphabet="abcXYZ", min_size=1,
                                    max_size=6), ch, max_size=5)),
        max_leaves=20)

    @settings(max_examples=120, deadline=None)
    @given(value)
    def rt(v):
        data = _ser(v)
        lex = pdfobj._Lexer(data, 0)
        got = pdfobj.parse_object(lex)
        assert _normalize(got) == _normalize(v)
        assert lex.pos == len(data) or data[lex.pos:].isspace()
    rt()


def _normalize(v):
    """Ref → tuple for comparison; floats not generated (PDF ints only)."""
    if isinstance(v, pdfobj.Ref):
        return ("R", v.num, v.gen)
    if isinstance(v, list):
        return [_normalize(x) for x in v]
    if isinstance(v, dict):
        return {k: _normalize(x) for k, x in v.items()}
    return v


def test_simple_font_differences_encoding():
    """Type1 fonts with /Encoding /Differences (no ToUnicode) — the
    pre-ToUnicode journal layout — decode via the glyph-name map."""
    content = b"BT /F1 10 Tf (caf\x80 na\x81ve \x82 uni) Tj ET"
    raw = (b"%PDF-1.3\n"
           b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 "
           b"/Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
           b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
           b"\nendobj\n"
           b"4 0 obj\n<< /Length " + str(len(content)).encode()
           + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
           b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Times "
           b"/Encoding << /BaseEncoding /WinAnsiEncoding /Differences "
           b"[ 128 /eacute 129 /idieresis /uni2603 ] >> >>\nendobj\n"
           b"%%EOF\n")
    pages, error, _, _ = pdfmini.pdf_to_pages(raw)
    assert error is None
    # 0x80→eacute, 0x81→idieresis (uniXXXX fallback absent → ''), 0x82→☃
    assert pages[0].startswith("café na")
    assert "☃" in pages[0]


def test_winansi_base_encoding_high_range():
    content = b"BT /F1 10 Tf (dash \x96 quote \x93x\x94) Tj ET"
    raw = (b"%PDF-1.3\n"
           b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 "
           b"/Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
           b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
           b"\nendobj\n"
           b"4 0 obj\n<< /Length " + str(len(content)).encode()
           + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
           b"5 0 obj\n<< /Type /Font /Subtype /TrueType "
           b"/Encoding /WinAnsiEncoding >>\nendobj\n%%EOF\n")
    pages, error, _, _ = pdfmini.pdf_to_pages(raw)
    assert error is None
    assert pages[0] == "dash – quote “x”"   # cp1252, not latin-1


def test_glyph_to_unicode_forms():
    assert pdfobj.glyph_to_unicode("eacute") == "é"
    assert pdfobj.glyph_to_unicode("a") == "a"
    assert pdfobj.glyph_to_unicode("uni0041") == "A"
    assert pdfobj.glyph_to_unicode("u1F600") == "😀"
    assert pdfobj.glyph_to_unicode("unknownglyphname") == ""


def test_pdf_parser_total_on_garbage_hypothesis():
    """The structured parser's whole surface (objects, xref, ObjStm,
    crypto, fonts, links) must degrade to an error/empty result on
    arbitrary bytes — never raise through extract_one (task-killer)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pubscience_spark.operators.extract import extract_one

    marker = st.sampled_from([b"/ObjStm", b"/XRef", b"/ToUnicode",
                              b"/Encrypt", b"/Differences",
                              b"/WinAnsiEncoding"])
    chunks = st.lists(st.one_of(
        st.binary(max_size=60), marker,
        st.sampled_from([b" obj\n", b"endobj", b"stream\n", b"endstream",
                         b"<<", b">>", b"[", b"]", b"(", b")", b"<", b">",
                         b"/Filter /FlateDecode", b"/Length 99",
                         b"0 R", b"trailer", b"/ID [<00> <00>]",
                         b"/O <ff> /U <ff> /P -1 /Filter /Standard",
                         b"beginbfrange", b"endbfrange"])),
        max_size=24)

    @settings(max_examples=150, deadline=None)
    @given(chunks)
    def fuzz(parts):
        raw = b"%PDF-1.5\n" + b"".join(parts) + b"\n%%EOF"
        # the kernel entry points themselves must not raise (extract_one
        # would catch, but a raise means a half-parsed state escaped)
        pages, error, scanned, producer = pdfmini.pdf_to_pages(raw)
        assert isinstance(pages, list) and isinstance(scanned, bool)
        links = pdfmini.pdf_links(raw)
        assert isinstance(links, list)
        rec = extract_one(raw)
        assert rec["route"] == "pdf"
        assert isinstance(rec["extracted_text"], str)
        assert len(rec["sha256"]) == 64
        assert rec["links"] is None or isinstance(rec["links"], list)
    fuzz()


# ----------------------------------------------- round 4: ADVICE fixes ----

def test_forward_length_ref_second_pass():
    """ADVICE r3: /Length as an indirect ref to an object defined LATER
    in the file (the common real-writer layout) must be resolved in a
    second pass — the endstream fallback would truncate a body that
    contains those bytes."""
    body = b"BT (before endstream after) Tj ET"
    raw = (b"%PDF-1.4\n"
           b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
           b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"
           b"endobj\n"
           b"4 0 obj\n<< /Length 9 0 R >>\nstream\n" + body
           + b"\nendstream\nendobj\n"
           b"9 0 obj\n" + str(len(body)).encode() + b"\nendobj\n"
           b"%%EOF\n")
    objs = pdfobj.scan_objects(raw)
    assert objs[4].raw == body          # full body, not truncated
    pages, err = pdfobj.extract_pages(raw)
    assert err is None and pages == ["before endstream after"]


def test_forward_length_ref_unresolvable_keeps_fallback():
    """If the Length ref never resolves, the endstream-search fallback
    result stands (graceful degradation, no crash)."""
    body = b"BT (plain text) Tj ET"
    raw = (b"%PDF-1.4\n"
           b"4 0 obj\n<< /Length 77 0 R >>\nstream\n" + body
           + b"\nendstream\nendobj\n%%EOF\n")
    objs = pdfobj.scan_objects(raw)
    assert objs[4].raw == body


def test_xref_streams_apply_in_file_order():
    """ADVICE r3: an incremental-update xref stream with a LOWER object
    number than the original's must still win (file order, not object-
    number order)."""
    import zlib as _z

    def xref_obj(num: int, entries: dict[int, tuple]) -> bytes:
        rows = b"".join(
            bytes([t]) + f2.to_bytes(4, "big") + bytes([f3])
            for t, f2, f3 in entries.values())
        data = _z.compress(rows)
        idx = " ".join(f"{k} 1" for k in entries)
        return (f"{num} 0 obj\n<< /Type /XRef /W [1 4 1] "
                f"/Index [{idx}] /Size 100 /Filter /FlateDecode "
                f"/Length {len(data)} >>\nstream\n").encode() \
            + data + b"\nendstream\nendobj\n"

    # original section: xref is object 9 (early in file), says obj 3 @ 111
    # update section: xref is object 2 (later in file), says obj 3 @ 222
    raw = (b"%PDF-1.5\n"
           + xref_obj(9, {3: (1, 111, 0)})
           + xref_obj(2, {3: (1, 222, 0)})
           + b"%%EOF\n")
    objs = pdfobj.scan_objects(raw)
    table = pdfobj.parse_xref_streams(raw, objs)
    assert table[3] == (1, 222, 0)


def test_info_text_string_boms():
    """ADVICE r3: /Info strings with UTF-16BE (and UTF-8) BOMs decode
    properly — modern producers write UTF-16BE."""
    assert pdfobj._text_string(
        b"\xfe\xff\x00L\x00a\x00T\x00e\x00X") == "LaTeX"
    assert pdfobj._text_string(b"\xef\xbb\xbfp\xc3\xa9df") == "pédf"
    assert pdfobj._text_string(b"plain latin-1 \xe9") == "plain latin-1 é"
    producer = "Scänner Pro".encode("utf-16-be")
    raw = (b"%PDF-1.6\n"
           b"7 0 obj\n<< /Producer (\xfe\xff" + producer + b") >>\nendobj\n"
           b"%%EOF\n")
    objs = pdfobj.scan_objects(raw)
    assert pdfobj.document_info(objs)["Producer"] == "Scänner Pro"
