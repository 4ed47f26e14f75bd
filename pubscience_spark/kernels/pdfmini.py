"""PDF extraction kernels (operator family P).

The container has no pypdf/fitz/pdfminer, so P1's backend cascade is
re-expressed as: (a) a from-scratch minimal PDF text extractor that handles
uncompressed (and zlib ``FlateDecode``) content streams — sufficient for the
deterministic synthetic fixture PDFs (FIXTURES.md §1c) — and (b) a
clearly-gated hook where a real backend would slot in on a production
cluster. Semantics re-derived from the reference:

- producer-keyword scan detection; the per-page empty-ratio probe resets
  its counter every page, making the producer match the effective detector
  — documented reference bug reproduced as spec
  (cf. ``retrieve/OAI/parse_pdfs.py:139-158``, SURVEY.md §2.11) (P2)
- Dutch/English summary page-capture state machine: trigger/stop phrases in
  the first/last 60 lowercase chars, section-number reset, ≤20 pages, then
  the 6-regex cleanup; the English pass reads ``section_num`` left over
  from the Dutch pass — as-written bug reproduced
  (cf. ``retrieve/OAI/parse_pdfs.py:244-353``) (P5)
- body page cleanup: ≥50-word pages, number/line scrubs, phrase-based page
  drops, ≥25-word final gate, per-page word counts
  (cf. ``retrieve/OAI/parse_pdfs.py:356-421``) (P6)
"""

from __future__ import annotations

import base64
import re
import zlib

# --- P1: minimal PDF text extraction ---------------------------------------

_RE_STREAM = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
# A PDF literal string, ``(`` … ``)`` with backslash escapes, in the
# unrolled form ``[^()\\]*(?:\\.[^()\\]*)*``: the same language as
# ``(?:[^()\\]|\\.)*`` and the same matches (a backslash always opens an
# escape pair, so the closing paren is unique), but the plain-character
# runs go through one character-class loop instead of one alternation
# per byte (~4.7x faster on the corpus content streams).
_LIT = rb"\(([^()\\]*(?:\\.[^()\\]*)*)\)"
_RE_SHOW = re.compile(
    _LIT + rb"\s*(?:Tj|'|\")"                # literal Tj / ' / "
    rb"|<([0-9A-Fa-f\s]*)>\s*(?:Tj|'|\")"   # hex Tj / ' / "
    rb"|\[(.*?)\]\s*TJ", re.DOTALL)         # TJ array

_RE_STR_IN_ARRAY = re.compile(_LIT + rb"|<([0-9A-Fa-f\s]*)>")
_RE_PRODUCER = re.compile(rb"/Producer\s*" + _LIT)
_RE_PAGE_COUNT = re.compile(rb"/Type\s*/Page\b(?!s)")
_RE_FILTER = re.compile(rb"/Filter\s*(\[[^\]]*\]|/\w+)")
_RE_FILTER_NAME = re.compile(rb"/(\w+)")

_ESCAPES = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
            b"(": b"(", b")": b")", b"\\": b"\\"}


def _unescape_pdf_string(raw: bytes) -> bytes:
    if b"\\" not in raw:        # fast path: most strings have no escapes
        return raw
    # find()-driven slicing instead of the former byte-at-a-time loop —
    # identical output (incl. the kept trailing lone backslash and the
    # dropped-backslash unknown-escape rule), ~5× fewer Python ops on
    # escape-bearing strings
    out = bytearray()
    i, n = 0, len(raw)
    find = raw.find
    while True:
        j = find(b"\\", i)
        if j < 0:
            out += raw[i:]
            break
        out += raw[i:j]
        if j + 1 >= n:
            out += b"\\"        # trailing backslash is kept as-is
            break
        nxt = raw[j + 1:j + 2]
        esc = _ESCAPES.get(nxt)
        if esc is not None:
            out += esc
            i = j + 2
        elif nxt.isdigit():     # octal escape, up to 3 digits
            k = j + 1
            oct_digits = b""
            while k < n and raw[k:k + 1].isdigit() and len(oct_digits) < 3:
                oct_digits += raw[k:k + 1]
                k += 1
            out.append(int(oct_digits, 8) & 0xFF)
            i = k
        else:                   # unknown escape: drop the backslash
            i = j + 1
    return bytes(out)


def _decode_hex_string(raw: bytes) -> bytes:
    h = re.sub(rb"\s+", b"", raw)
    if len(h) % 2:
        h += b"0"          # spec: odd-length hex strings pad with 0
    try:
        return bytes.fromhex(h.decode("ascii"))
    except ValueError:
        return b""


def _stream_text(body: bytes) -> str:
    """Text shown by Tj / ' / " / TJ operators in DOCUMENT ORDER, literal
    or hex strings; ET or TD newlines preserved as \\n. No CMap support:
    CID/Identity-H encoded fonts come out garbled (documented divergence —
    the reference delegates that to pypdf/fitz, which the container
    lacks)."""
    pieces: list[bytes] = []
    for m in _RE_SHOW.finditer(body):
        lit, hexs, arr = m.group(1), m.group(2), m.group(3)
        if lit is not None:
            pieces.append(_unescape_pdf_string(lit))
        elif hexs is not None:
            pieces.append(_decode_hex_string(hexs))
        else:
            for s in _RE_STR_IN_ARRAY.finditer(arr):
                if s.group(1) is not None:
                    pieces.append(_unescape_pdf_string(s.group(1)))
                else:
                    pieces.append(_decode_hex_string(s.group(2)))
    # latin-1 is bytewise: decoding the join equals joining the decodes
    return b"\n".join(pieces).decode("latin-1")


def _decode_stream(hdr: bytes, body: bytes) -> tuple[bytes | None, str | None]:
    """Apply the /Filter cascade (name or array, applied in order).
    Supported: FlateDecode, ASCIIHexDecode, ASCII85Decode. Anything else
    (LZW, DCT, JBIG2, …) returns an error instead of killing the task."""
    m = _RE_FILTER.search(hdr)
    if not m:
        return body, None
    for name in _RE_FILTER_NAME.findall(m.group(1)):
        if name == b"FlateDecode":
            try:
                body = zlib.decompress(body)
            except zlib.error:
                return None, "flate-decode-failed"
        elif name == b"ASCIIHexDecode":
            data = body.split(b">")[0]
            body = _decode_hex_string(data)
        elif name == b"ASCII85Decode":
            data = re.sub(rb"\s+", b"", body)
            if data.endswith(b"~>"):
                data = data[:-2]
            try:
                body = base64.a85decode(data)
            except ValueError:
                return None, "ascii85-decode-failed"
        elif name == b"LZWDecode":
            from .pdfobj import lzw_decode
            try:
                body = lzw_decode(body)
            except (ValueError, KeyError):
                return None, "lzw-decode-failed"
        else:
            return None, "unsupported-filter"
    return body, None


def is_pdf(raw: bytes) -> bool:
    return raw[:5] == b"%PDF-"


# Markers that signal a layout the legacy regex path cannot read:
# compressed object streams, xref streams, CID text with ToUnicode
# CMaps, encrypted files. Their presence routes the file to the
# structured parser (kernels/pdfobj); plain files keep the byte-stable
# legacy path.
_MODERN_MARKERS = (b"/ObjStm", b"/XRef", b"/ToUnicode", b"/Encrypt",
                   b"/Differences", b"/WinAnsiEncoding",
                   b"/MacRomanEncoding")


def _scanned_producer(producer: str) -> bool:
    return any(k in producer.lower()
               for k in ("scanner", "scan", "image", "finereader",
                         "tesseract"))


def pdf_to_pages(raw: bytes, password: "bytes | str" = b"",
                 ) -> tuple[list[str], str | None, bool, str]:
    """P1+P2: (pages, error, scanned, producer). ``password`` unlocks
    standard-security-handler files with a non-empty USER password (the
    empty password is always tried too)."""
    return _pdf_document(raw, password)[:4]


def _pdf_document(raw: bytes, password: "bytes | str" = b"",
                  ) -> tuple[list[str], str | None, bool, str,
                             list[str] | None]:
    """(pages, error, scanned, producer, links).

    Modern PDFs (object/xref streams, ToUnicode CMaps — the post-2005
    LaTeX/Word layout the reference reads via its pypdf→fitz→pdfminer
    cascade, ``parse_pdfs.py:112-241``) go through the structured
    object-model parser in :mod:`pdfobj` — ONE parse serves both text
    extraction and the P8 link harvest (``links``; None means a modern
    file fell back to the legacy path and the caller should use
    :func:`pdf_links`). Legacy/simple files keep the regex path: one page
    per PDF content stream (the synthetic corpus emits one stream per
    page), and their links come from the same pass, so each stream
    inflates once.
    FlateDecode streams are inflated; other filters yield an error entry
    instead of killing the task (reference watchdog analog,
    ``parse_pdfs.py:94-112`` → error column, SURVEY.md §4).
    """
    if not is_pdf(raw):
        return [], "not-a-pdf", False, "", None
    producer = ""
    m = _RE_PRODUCER.search(raw)
    if m:
        producer = _unescape_pdf_string(m.group(1)).decode("latin-1", "replace")
    modern = any(mk in raw for mk in _MODERN_MARKERS)
    if modern:
        try:
            from . import pdfobj
            objs = pdfobj.parse_document(raw, password)
            doc = pdfobj.extract_document(raw, objs=objs)
            if doc["error"] in ("pdf-password-protected",
                                "pdf-encryption-unsupported"):
                # terminal: the legacy path would just see filter noise
                return ([], doc["error"], _scanned_producer(producer),
                        producer, [])
            if doc["pages"] and any(doc["pages"]):
                producer = producer or doc["info"].get("Producer", "")
                # empty structured harvest → cheap regex fallback (NOT
                # a second structured parse): annotations can live in
                # objects the model failed to parse (round-3 review)
                links = pdfobj.harvest_links(objs) or _links_regex(raw)
                return (doc["pages"], doc["error"],
                        _scanned_producer(producer), producer, links)
        except Exception:
            pass        # malformed modern layout: legacy path below
    scanned = _scanned_producer(producer)
    pages: list[str] = []
    error = None
    # P8 rides the same decode: /URI values from the raw bytes plus every
    # stream that inflated cleanly (what _links_regex would collect)
    links: set[str] = set()
    _add_uris(links, raw)
    for hdr, body in _RE_STREAM.findall(raw):
        decoded, err = _decode_stream(hdr, body)
        if decoded is None:
            error = err
            pages.append("")
            continue
        pages.append(_stream_text(decoded))
        _add_uris(links, decoded)
    if not pages:
        n_pages = len(_RE_PAGE_COUNT.findall(raw))
        pages = [""] * n_pages
        if n_pages and not scanned:
            error = error or "no-text-streams"
    # a modern file whose structured parse failed keeps the pdf_links
    # fallback (a second structured attempt at the link annotations)
    return pages, error, scanned, producer, None if modern else sorted(links)


# --- P5: summary capture state machine (parse_pdfs.py:244-353) --------------

_RE_SECTION_NUM = re.compile(r"^\d+\n(\d*)")
_RE_NUMS_START_PLUS = re.compile(r"(\d+\n\d*)")
_RE_NUMS_START = re.compile(r"(\d+)\n")
_RE_NUMS_STRING_START = re.compile(r"^(\d+)")
_RE_ONLY_NUM_LINES = re.compile(r"^\s*\d+\s*$", re.MULTILINE)
_RE_EMPTY_LINES = re.compile(r"\n\s*\n")
_RE_EMPTY_START = re.compile(r"^\s*\n")
_RE_EMPTY_END = re.compile(r"\n\s*$")

_DUTCH_TRIGGERS = ("s amenvatting", "samenvatting", "nederlandse samenvatting",
                   "samenvatting in het nederlands",
                   "s amenvatting in het nederlands", "d utch summary",
                   "dutch summary", "n ederlandse samenvatting")
_ENGLISH_TRIGGERS = ("s ummary", "summary", "english summary", "summery")
_STOPPERS = ("d ankwoord", "na woord", "a cknowledgment", "c ontents",
             "t able of contents", "l ist of figures",
             "l ist of abbreviations", "a cknowledgements", "r eferences",
             "dankwoord", "nawoord", "acknowledgment", "contents",
             "table of contents", "list of figures", "list of abbreviations",
             "acknowledgements", "references")


def _page_edges(page: str) -> str:
    """The first and last 60 chars of the LOWERED page (lower first, then
    slice: ``'İ'.lower()`` is two code points), joined by a newline. No
    trigger or stop phrase holds a newline, so ``x in edges`` is exactly
    ``x in head or x in tail``."""
    low = page.lower()
    return low[:60] + "\n" + low[-60:]


def _cleanup_pages(pages: list[str]) -> list[str]:
    pages = [_RE_NUMS_START.sub("", s) for s in pages]
    pages = [_RE_EMPTY_START.sub("", s) for s in pages]
    pages = [_RE_EMPTY_END.sub("", s) for s in pages]
    pages = [_RE_EMPTY_LINES.sub("", s) for s in pages]
    pages = [_RE_ONLY_NUM_LINES.sub("", s) for s in pages]
    pages = [_RE_NUMS_STRING_START.sub("\n", s) for s in pages]
    return pages


# hoisted per-page tuple concatenations from extract_summary (identical
# phrase lists, built once instead of once per page)
_STOPPERS_FOR_DUTCH = _STOPPERS + ("s ummary", "summary", "english summary")
_STOPPERS_FOR_ENGLISH = _STOPPERS + ("s amenvatting", "samenvatting",
                                     "nederlandse samenvatting",
                                     "d utch summary", "dutch summary",
                                     "n ederlandse samenvatting")


def extract_summary(pages: list[str], max_scount: int = 20) -> tuple[str, str]:
    """Returns (english_summary, dutch_summary) page concatenations."""
    # both passes read the same number-stripped page and lowered edges;
    # the strip needs a newline to match
    stripped = [_RE_NUMS_START_PLUS.sub("", page) if "\n" in page else page
                for page in pages]
    edges = [_page_edges(page) for page in stripped]

    dutch: list[str] = []
    capture = False
    scount = 0
    init_section_num: list = []
    section_num: list = []
    for raw_page, page, edge in zip(pages, stripped, edges):
        section_num = _RE_SECTION_NUM.findall(raw_page)
        if any(x in edge for x in _DUTCH_TRIGGERS):
            capture = True
            init_section_num = section_num
            scount += 1
        elif any(x in edge for x in _STOPPERS_FOR_DUTCH):
            capture = False
        elif section_num != init_section_num:
            capture = False
        if capture:
            scount += 1
            dutch.append(page)
        if scount >= max_scount:
            break

    english: list[str] = []
    capture = False
    scount = 0
    for page, edge in zip(stripped, edges):
        # as-written reference bug: section_num is NOT recomputed in this
        # pass — it keeps the last value of the Dutch loop (parse_pdfs.py:296-326)
        if any(x in edge for x in _ENGLISH_TRIGGERS):
            capture = True
            init_section_num = section_num
            scount += 1
        elif any(x in edge for x in _STOPPERS_FOR_ENGLISH):
            capture = False
        elif section_num != init_section_num:
            capture = False
        if capture:
            scount += 1
            english.append(page)
        if scount >= max_scount:
            break

    return "\n".join(_cleanup_pages(english)), "\n".join(_cleanup_pages(dutch))


# --- P6: body page cleanup (parse_pdfs.py:356-421) --------------------------

_DROP_PHRASES = (
    ("references", "literature", "bibliography", "referenties", "literatuurlijst"),
    ("list of figures", "lijst van figuren"),
    ("list of abbreviations", "lijst van afkortingen"),
    ("all rights reserved", "no part of this publication may be reproduced",
     "copyright", "uitgeverij"),
    ("volgens besluit van het college voor promoties", "de graad van doctor aan"),
    ("inhoudsopgave", "table of contents"),
    ("acknowledgements", "dankwoord", "dankbetuiging"),
    ("list of publications", "lijst van publicaties", "bibliography",
     "bibliografie"),
)
# every group drops its pages, so one flat, de-duplicated tuple serves all
_DROP_ANY = tuple(dict.fromkeys(p for group in _DROP_PHRASES for p in group))
_CHAPTER_PHRASES = ("chapter ", "hoofdstuk ")
_RE_LINE_NUM_START = re.compile(r"^\d+")


def text_extractor(pages: list[str]) -> tuple[list[str], list[int]]:
    """Kept body pages + per-page word counts.

    Same output as the reference chain, in fewer passes per page:

    - The reference's five whitespace substitutions (``\\n+``,
      ``\\n\\s*\\n``, ``^\\s*\\n``, ``\\n\\s*$``, ``\\s+``) are one
      ``split()`` / ``" ".join`` plus their two edge rules: the leading
      whitespace run keeps what follows its last newline, the trailing
      run what precedes its first, and a non-empty kept part becomes one
      space.
    - The collapsed page holds no newline, so the per-line scrub is one
      test on the whole page, and one ``lower()`` serves every phrase.
    - Deleting characters never adds a word, so the > 50-word gate after
      the substitutions implies the one before them, and a kept page
      always passes the final > 25-word gate.
    """
    kept: list[str] = []
    counts: list[int] = []
    for t in pages:
        # without a newline the two line patterns can only match a
        # one-number page, which the word gate drops anyway
        lines = "\n" in t
        if lines:
            t = _RE_NUMS_START.sub("", t)
        t = _RE_NUMS_STRING_START.sub("", t)
        if lines:
            t = _RE_ONLY_NUM_LINES.sub("", t)
        words = t.split()
        if len(words) <= 50:
            continue
        lead = len(t) - len(t.lstrip())
        trail = len(t.rstrip())
        page = " ".join(words)
        if lead and t[lead - 1] != "\n":
            page = " " + page
        if trail < len(t) and t[trail] != "\n":
            page += " "
        low = page.lower()
        if (_RE_LINE_NUM_START.match(page) or "doi:10" in low
                or any(p in low for p in _DROP_ANY)
                or sum(low.count(c) for c in _CHAPTER_PHRASES) >= 2):
            continue
        kept.append(page)
        counts.append(len(words))
    return kept, counts


# --- P8: PDF link harvest (scrapers/scrapers.py:170-194) --------------------

_RE_URI = re.compile(rb"/URI\s*" + _LIT)


def pdf_links(raw: bytes) -> list[str]:
    """P8: distinct /URI values from link annotations. The reference walks
    /Annots → /A → /URI via PyPDF2 and set()-dedups; here a regex scans the
    raw bytes plus every decodable stream (annotations may live in object
    streams). Modern/encrypted files route through the object model,
    which reaches ObjStm-compressed and string-encrypted annotations.
    Sorted for a deterministic column value."""
    if any(mk in raw for mk in _MODERN_MARKERS):
        try:
            from . import pdfobj
            objs = pdfobj.parse_document(raw)
            if not objs.crypt_error:
                links = pdfobj.harvest_links(objs)
                if links:
                    return links
        except Exception:
            pass        # fall through to the regex scan
    return _links_regex(raw)


def _add_uris(found: set[str], data: bytes) -> None:
    for m in _RE_URI.finditer(data):
        found.add(_unescape_pdf_string(m.group(1)).decode("latin-1",
                                                          "replace"))


def _links_regex(raw: bytes) -> list[str]:
    found: set[str] = set()
    _add_uris(found, raw)
    for hdr, body in _RE_STREAM.findall(raw):
        decoded, err = _decode_stream(hdr, body)
        if decoded is not None and err is None:
            _add_uris(found, decoded)
    return sorted(found)


def extract_pdf(raw: bytes) -> dict:
    """Full PDF route: pages → summaries + filtered body + P8 links.
    Links come from the SAME parse as the text: the structured path's
    object model (round-3 review: the hot loop used to parse
    modern/encrypted files twice) or the legacy path's stream loop.
    ``pdf_links`` runs only for a modern file whose structured parse
    failed."""
    pages, error, scanned, producer, links = _pdf_document(raw)
    english, dutch = extract_summary(pages)
    body_pages, word_counts = text_extractor(pages)
    return {
        "pages": body_pages,
        "page_word_counts": word_counts,
        "summary_en": english,
        "summary_nl": dutch,
        "scanned": scanned,
        "producer": producer,
        "error": error,
        "extracted_text": "\n".join(body_pages),
        "links": links if links is not None else pdf_links(raw),
    }
