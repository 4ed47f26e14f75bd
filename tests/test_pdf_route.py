"""The PDF route (P1/P5/P6/P8) against a frozen digest and against the
reference substitution chains.

``pdfmini.text_extractor`` and ``pdfmini.extract_summary`` run the
reference's per-page regex chains (``parse_pdfs.py:244-421``) in fewer
passes, and the legacy path harvests /URI values in the same stream loop
that extracts the text. The chains they replace live on here, in the
tests only, as the reference the property tests compare against.
"""

import hashlib
import json
import random
import re
import zlib

from hypothesis import example, given, settings
from hypothesis import strategies as st

from pubscience_spark.datagen.pages import make_pdf
from pubscience_spark.kernels import pdfmini

from test_kernels_extract import _mini_pdf, _stream_obj


# --------------------------------------------------------------------------
# reference chains (the substitution-per-pass form of parse_pdfs.py)
# --------------------------------------------------------------------------

_RE_SECTION_NUM = re.compile(r"^\d+\n(\d*)")
_RE_NUMS_START_PLUS = re.compile(r"(\d+\n\d*)")
_RE_NUMS_START = re.compile(r"(\d+)\n")
_RE_NUMS_STRING_START = re.compile(r"^(\d+)")
_RE_ONLY_NUM_LINES = re.compile(r"^\s*\d+\s*$", re.MULTILINE)
_RE_MULTI_NL = re.compile(r"\n+")
_RE_EMPTY_LINES = re.compile(r"\n\s*\n")
_RE_EMPTY_START = re.compile(r"^\s*\n")
_RE_EMPTY_END = re.compile(r"\n\s*$")
_RE_MULTI_SPACE = re.compile(r"\s+")
_RE_LINE_NUM_START = re.compile(r"^\d+")


def _ref_page_has(page, phrases):
    low = page.lower()
    head, tail = low[:60], low[-60:]
    return any((x in head) or (x in tail) for x in phrases)


def _ref_cleanup_pages(pages):
    pages = [_RE_NUMS_START.sub("", s) for s in pages]
    pages = [_RE_EMPTY_START.sub("", s) for s in pages]
    pages = [_RE_EMPTY_END.sub("", s) for s in pages]
    pages = [_RE_EMPTY_LINES.sub("", s) for s in pages]
    pages = [_RE_ONLY_NUM_LINES.sub("", s) for s in pages]
    pages = [_RE_NUMS_STRING_START.sub("\n", s) for s in pages]
    return pages


def _ref_extract_summary(pages, max_scount=20):
    dutch = []
    capture = False
    scount = 0
    init_section_num = []
    section_num = []
    for page in pages:
        section_num = _RE_SECTION_NUM.findall(page)
        page = _RE_NUMS_START_PLUS.sub("", page)
        if _ref_page_has(page, pdfmini._DUTCH_TRIGGERS):
            capture = True
            init_section_num = section_num
            scount += 1
        elif _ref_page_has(page, pdfmini._STOPPERS_FOR_DUTCH):
            capture = False
        elif section_num != init_section_num:
            capture = False
        if capture:
            scount += 1
            dutch.append(page)
        if scount >= max_scount:
            break

    english = []
    capture = False
    scount = 0
    for page in pages:
        # section_num keeps the last value of the Dutch loop
        page = _RE_NUMS_START_PLUS.sub("", page)
        if _ref_page_has(page, pdfmini._ENGLISH_TRIGGERS):
            capture = True
            init_section_num = section_num
            scount += 1
        elif _ref_page_has(page, pdfmini._STOPPERS_FOR_ENGLISH):
            capture = False
        elif section_num != init_section_num:
            capture = False
        if capture:
            scount += 1
            english.append(page)
        if scount >= max_scount:
            break

    return ("\n".join(_ref_cleanup_pages(english)),
            "\n".join(_ref_cleanup_pages(dutch)))


def _ref_text_extractor(pages):
    kept = [t for t in pages if len(t.split()) > 50]
    kept = [_RE_NUMS_START.sub("", t) for t in kept]
    kept = [_RE_NUMS_STRING_START.sub("", t) for t in kept]
    kept = [_RE_ONLY_NUM_LINES.sub("", t) for t in kept]
    kept = [_RE_MULTI_NL.sub("\n", t) for t in kept]
    kept = [_RE_EMPTY_LINES.sub("\n", t) for t in kept]
    kept = [_RE_EMPTY_START.sub("", t) for t in kept]
    kept = [_RE_EMPTY_END.sub("", t) for t in kept]
    kept = [_RE_MULTI_SPACE.sub(" ", t) for t in kept]
    kept = [t for t in kept if len(t.split()) > 50]
    kept = [t for t in kept
            if not any(p in t.lower() for p in pdfmini._DROP_PHRASES[0])]
    scrubbed = []
    for page in kept:
        lines = [ln for ln in page.split("\n")
                 if not _RE_LINE_NUM_START.search(ln)
                 and "doi:10" not in ln.lower()]
        scrubbed.append("\n".join(lines))
    kept = scrubbed
    for phrases in pdfmini._DROP_PHRASES[1:]:
        kept = [t for t in kept if not any(p in t.lower() for p in phrases)]
    kept = [t for t in kept
            if sum(t.lower().count(c) for c in pdfmini._CHAPTER_PHRASES) < 2]
    kept = [t for t in kept if len(t.split()) > 25]
    return kept, [len(t.split()) for t in kept]


# the literal-string sub-pattern before it was unrolled
_REF_LIT = rb"\(((?:[^()\\]|\\.)*)\)"
_REF_PATTERNS = {
    "_RE_SHOW": re.compile(
        _REF_LIT + rb"\s*(?:Tj|'|\")"
        rb"|<([0-9A-Fa-f\s]*)>\s*(?:Tj|'|\")"
        rb"|\[(.*?)\]\s*TJ", re.DOTALL),
    "_RE_STR_IN_ARRAY": re.compile(_REF_LIT + rb"|<([0-9A-Fa-f\s]*)>"),
    "_RE_PRODUCER": re.compile(rb"/Producer\s*" + _REF_LIT),
    "_RE_URI": re.compile(rb"/URI\s*" + _REF_LIT),
}


# --------------------------------------------------------------------------
# page strategies: Unicode whitespace, digit lines, İ, phrases near the
# 60-char edges the summary state machine looks at
# --------------------------------------------------------------------------

_WS = [" ", "\t", "\n", "\r\n", "\r", "\x0b", "\x0c", "\x1c", "\x1d",
       "\x1e", "\x1f", "\x85", "\xa0", "\u3000"]
_DIGIT_LINES = ["", "1\n", "12\n3\n", "4\n\n5", " 6 \n", "\u0663\n", "7",
                "\n8\n", "9\n10"]
_FILLER = ["a", "ab", "word", "filler", "İ", "İstanbul", "x" * 23, "7", "12",
           "1990", "\u0663", "3a", "x7"] + _DIGIT_LINES[1:]
_PHRASES = ["summary", "Summary", "SUMMARY", "s", "ummary", "english",
            "samenvatting", "Samenvatting", "nederlandse", "dutch",
            "amenvatting", "references", "References", "dankwoord", "contents",
            "table", "of", "acknowledgements", "list", "figures", "copyright",
            "chapter", "hoofdstuk", "doi:10.1000/xyz", "DOI:10.5/q"]

_ws_run = st.lists(st.sampled_from(_WS), max_size=4).map("".join)
_sep = st.lists(st.sampled_from(_WS), min_size=1, max_size=3).map("".join)
_digit_line = st.sampled_from(_DIGIT_LINES)


def _body(vocab, min_size, max_size, sep=_ws_run):
    return st.lists(st.tuples(st.sampled_from(vocab), sep),
                    min_size=min_size, max_size=max_size).map(
        lambda ws: "".join(w + s for w, s in ws))


def _join(*parts):
    return "".join(parts)


# short pages put phrases near the 60-char edges; long pages pass the
# > 50-word gates with at most one phrase, so most of them are kept
_SHORT_PAGE = st.builds(_join, _ws_run, _digit_line,
                        _body(_FILLER + _PHRASES, 0, 12), _digit_line, _ws_run)
_LONG_PAGE = st.builds(_join, _ws_run, _digit_line,
                       _body(_FILLER, 30, 45, _sep), _ws_run,
                       st.sampled_from([""] + _PHRASES), _ws_run,
                       _body(_FILLER, 30, 45, _sep), _digit_line, _ws_run)
_PAGES = st.lists(st.one_of(_SHORT_PAGE, _LONG_PAGE, _ws_run), max_size=7)

_filler = " ".join(f"w{i}" for i in range(60))


@settings(max_examples=400, deadline=None)
@given(_PAGES)
@example(["\n\n \x85\n\xa0" + _filler + " \u3000\n\n\x0b "])
@example(["\r\n 12\n" + _filler + "\n7\n \r\n"])
@example(["İ" * 40 + " " + _filler + " doi:10.1/x"])
@example(["5 " + _filler, " 5 " + _filler, "5\n" + _filler])
@example([" \n\t\x1c\x1d\x1e\x1f\n ", "", "\n"])
@example(["chapter " + _filler + " Chapter 9", "hoofdstuk " + _filler])
@example([_filler + " 12\n", "7\n" + _filler, _filler + "\n"])
def test_text_extractor_equals_reference_chain(pages):
    assert pdfmini.text_extractor(pages) == _ref_text_extractor(pages)


@settings(max_examples=400, deadline=None)
@given(_PAGES, st.sampled_from([1, 2, 3, 20]))
@example(["x" * 55 + "summary" + "y" * 100], 20)
@example(["İ" * 30 + "summary" + "y" * 100], 20)
@example(["y" * 100 + "summ" + "İ" * 3 + "ary" + "z" * 50], 20)
@example(["y" * 100 + "samenvatting" + "İ" * 50], 20)
@example(["1\n2 Samenvatting body", "1\n2 more", "1\n3 next",
          "Summary here", "4\n5 tail"], 20)
@example(["3\n Summary", "Dankwoord", "Summary again", "x"], 2)
@example(["a" * 60 + "summary" + "b" * 53 + "12\n"], 20)
@example(["Summary 12\n", "body 3\n"], 20)
def test_extract_summary_equals_reference_chain(pages, max_scount):
    assert (pdfmini.extract_summary(pages, max_scount)
            == _ref_extract_summary(pages, max_scount))


_PDF_BYTES = st.lists(st.sampled_from(
    [b"(", b")", b"\\", b"\\(", b"\\)", b"\\\\", b"\n", b" ", b"a", b"Tj",
     b"TJ", b"'", b'"', b"[", b"]", b"<", b">", b"4a", b"/URI",
     b"/Producer", b"\\n", b"\\101"]), max_size=40).map(b"".join)


@settings(max_examples=400, deadline=None)
@given(_PDF_BYTES)
@example(b"(a\\)b) Tj (c\\\\) ' [(x\\() <41>] TJ /URI (u\\)) /Producer (p(")
def test_unrolled_literal_patterns_match_reference(data):
    for name, ref in _REF_PATTERNS.items():
        new = getattr(pdfmini, name)
        assert ([(m.span(), m.groups()) for m in new.finditer(data)]
                == [(m.span(), m.groups()) for m in ref.finditer(data)]), name


# --------------------------------------------------------------------------
# frozen digest over seeded and hand-built PDFs
# --------------------------------------------------------------------------

def _annotated(raw: bytes, rng: random.Random, i: int) -> bytes:
    """Append /URI annotations: raw, inside a Flate stream, and inside a
    stream whose Flate data is broken (its links must not be harvested)."""
    tail = (b"obj\n<< /Type /Annot /A << /S /URI /URI (https://ex.org/r%d) "
            b">> >>\nendobj\n" % i)
    inner = zlib.compress(b"<< /A << /URI (https://ex.org/s%d\\)x) >> >>"
                          % (i % 7))
    tail += _stream_obj(inner, "/Filter /FlateDecode") + b"\n"
    if rng.random() < 0.5:
        tail += _stream_obj(b"not zlib /URI (https://ex.org/broken)",
                            "/Filter /FlateDecode") + b"\n"
    if rng.random() < 0.2:
        tail += b"/Encoding /WinAnsiEncoding\n"     # routes to pdfobj first
    return raw.replace(b"%%EOF", tail + b"%%EOF")


_HEADINGS = ["Summary", "Samenvatting", "Nederlandse samenvatting",
             "Dutch summary", "English summary", "Dankwoord", "References",
             "Contents", "Chapter 3", "Hoofdstuk 2", "12", "3\n4",
             "doi:10.1000/182", "Copyright 2001", "İstanbul"]


def _heading_pdf(rng: random.Random, i: int) -> bytes:
    pages = []
    for _ in range(rng.randint(1, 6)):
        words = [rng.choice(["alpha", "beta", "gamma", "delta", "İ", "7"])
                 for _ in range(rng.randint(10, 80))]
        head = rng.choice(_HEADINGS)
        ws = rng.choice(["\n", " ", "\n\n ", "\xa0\n", "\t"])
        text = head + ws + " ".join(words)
        if rng.random() < 0.3:
            text += "\n" + rng.choice(_HEADINGS) + "\n"
        pages.append(text)
    return _mini_pdf(pages, producer=rng.choice(["SynthWriter 1.0",
                                                 "ACME Scanner 2"]))


def _hand_built_pdfs() -> list[bytes]:
    """The PDFs built inline in tests/test_kernels_extract.py."""
    import base64
    text = b"BT (cascade payload works) Tj ET"
    annot = (b"obj\n<< /Type /Annot /A << /S /URI "
             b"/URI (https://example.org/a) >> >>\nendobj\n")
    in_stream = zlib.compress(b"<< /A << /URI (https://example.org/b) >> >>")
    return [
        _mini_pdf(["hello world page one", "page two text"]),
        _mini_pdf(["x"], producer="ACME Scanner 2"),
        b"<html>nope</html>",
        b"%PDF-1.4\n" + _stream_obj(b"BT <48656C6C6F20686578> Tj (lit one) ' "
                                    b"[(arr a) <2062> (c)] TJ ET")
        + b"\n%%EOF\n",
        b"%PDF-1.4\n" + _stream_obj(base64.a85encode(zlib.compress(text))
                                    + b"~>",
                                    "/Filter [/ASCII85Decode /FlateDecode]")
        + b"\n%%EOF\n",
        b"%PDF-1.4\n" + _stream_obj(b"BT (hexed body) Tj ET".hex().encode()
                                    + b">", "/Filter /ASCIIHexDecode")
        + b"\n%%EOF\n",
        b"%PDF-1.4\n" + _stream_obj(b"xx", "/Filter /DCTDecode")
        + b"\n%%EOF\n",
        (b"%PDF-1.4\n" + annot
         + _stream_obj(in_stream, "/Filter /FlateDecode")
         + b"\nobj\n<< /A << /URI (https://example.org/a) >> >>\nendobj\n"
         + b"%%EOF\n"),
        b"%PDF-1.4\nno links\n%%EOF\n",
    ]


def _digest_corpus() -> list[bytes]:
    rng = random.Random(20240417)
    docs = []
    for i in range(600):
        raw = make_pdf(rng, ("en", "nl", "de")[i % 3], i)
        docs.append(_annotated(raw, rng, i) if i % 4 == 0 else raw)
    for i in range(200):
        raw = _heading_pdf(rng, i)
        docs.append(_annotated(raw, rng, i) if i % 3 == 0 else raw)
    return docs + _hand_built_pdfs()


# sha256 of the extract_pdf dicts over _digest_corpus(), taken with the
# reference chains; a change to any field of any document moves it
PDF_ROUTE_DIGEST = \
    "423ca051e524cbb2d1c5a8710d84d0051909758b9ec0924ddf08ccf522fa5f13"


def test_pdf_route_digest_frozen():
    docs = _digest_corpus()
    assert len(docs) >= 800
    out = [pdfmini.extract_pdf(raw) for raw in docs]
    # the corpus reaches every field it pins
    assert any(d["links"] for d in out) and any(d["summary_nl"] for d in out)
    assert any(d["summary_en"] for d in out) and any(d["error"] for d in out)
    assert any(d["scanned"] for d in out) and any(d["pages"] for d in out)
    blob = json.dumps(out, sort_keys=True, ensure_ascii=False)
    assert hashlib.sha256(blob.encode("utf-8")).hexdigest() == PDF_ROUTE_DIGEST


def test_legacy_links_equal_the_separate_harvest():
    """The stream loop's /URI harvest equals ``pdf_links``, the separate
    pass it replaced, on every digest document."""
    for raw in _digest_corpus():
        assert pdfmini.extract_pdf(raw)["links"] == pdfmini.pdf_links(raw)
