"""HTML main-content extraction kernel (operator family H).

A from-scratch, stdlib-only (html.parser) DOM extractor implementing the
semantics the reference expresses through puppeteer/selenium scrapers and
regex pulls:

- tag→markdown mapping: H1-H4 → ``#`` headers, LI → ``- ``, P → plain
  paragraph (cf. ``scripts/scrapers/mayo/src/index.ts:26-28,140-148``,
  ``nice/src/index.ts:109-121``, ``wikidoc/src/index.ts:132-141``) (H4)
- DOM-path boilerplate skip: nav/footer/references/toc-like ancestors are
  never emitted; extraction stops at a "References" / "Last updated"
  heading (cf. ``mayo/src/index.ts:125-136``, ``rch/src/index.ts:119-139``,
  ``wikidoc/src/index.ts:117-122``) (H5)
- link-density block scoring in the Readability/trafilatura spirit the
  north star mandates: a block whose anchor-text share exceeds
  LINK_DENSITY_MAX is boilerplate unless it is long enough to be prose
- citation scrub ``[12]`` (cf. ``nice/src/index.ts:122``) happens later in
  :func:`pubscience_spark.kernels.textclean.clean_markdown` (H7)
- images contribute no text and tables are dropped (B5 analog); other
  containers (blockquote, pre, figure, …) emit their text as paragraphs

Output is a plain dict so the Arrow UDF wrapper can build a struct column.
Everything is deterministic pure Python — the byte-identical contract.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

# containers whose subtree is never content (head/title text is captured
# separately by the tree builder for the title/meta fields)
SKIP_TAGS = frozenset({
    "script", "style", "noscript", "iframe", "svg", "canvas", "template",
    "nav", "header", "footer", "aside", "form", "button", "select", "option",
    "head", "title",
})

# class/id substrings marking boilerplate subtrees (H5 analog)
BOILERPLATE_MARKERS = (
    "nav", "menu", "footer", "header", "sidebar", "side-bar", "breadcrumb",
    "toc", "table-of-contents", "reference", "cookie", "banner", "social",
    "share", "comment", "advert", "ad-", "promo", "related", "pagination",
    "skip-link", "modal", "popup", "subscribe", "newsletter",
)

# headings that terminate the article body (H5 stop rule)
STOP_HEADINGS = (
    "references", "last updated", "see also", "external links",
    "related content", "sources", "acknowledgements", "bibliography",
)

HEADING_TAGS = {"h1": "#", "h2": "##", "h3": "###", "h4": "####",
                "h5": "####", "h6": "####"}

LINK_DENSITY_MAX = 0.5     # anchor-char share above which a block is navigation
MIN_PROSE_CHARS = 80       # long blocks survive high link density (prose w/ cites)


class _Node:
    __slots__ = ("tag", "children", "parent", "skip")

    def __init__(self, tag, parent, skip):
        self.tag = tag
        self.children = []      # _Node or str
        self.parent = parent
        self.skip = skip


def _is_boilerplate_attrs(attrs: dict) -> bool:
    if not attrs:
        return False
    blob = " ".join(
        v for k, v in attrs.items() if k in ("class", "id", "role") and v
    ).lower()
    if not blob:
        return False
    if attrs.get("role") in ("navigation", "banner", "contentinfo", "complementary"):
        return True
    return any(m in blob for m in BOILERPLATE_MARKERS)


MAX_DOM_DEPTH = 200   # recursion guard: malformed pages (unclosed tags)
# auto-nest thousands deep; past the cap, content flattens into the
# current node so TEXT IS PRESERVED and every tree walk stays well under
# the interpreter recursion limit. Legitimate DOMs are < 50 levels.


class _TreeBuilder(HTMLParser):
    """Builds a minimal DOM tree; malformed markup degrades gracefully."""

    VOID = frozenset({"br", "hr", "img", "input", "meta", "link", "area",
                      "base", "col", "embed", "source", "track", "wbr"})

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = _Node("__root__", None, False)
        self.cur = self.root
        self.meta: list[dict] = []
        self.title_parts: list[str] = []
        self._in_title = False
        self._depth = 0
        # tags discarded past MAX_DOM_DEPTH: (tag, started_suppress).
        # Tracking names (not a bare counter) keeps the cursor in sync
        # when end tags close PRE-cap nodes from inside an overflow
        # region, and suppression makes <script>/<style>/boilerplate
        # subtrees past the cap still swallow their text instead of
        # flattening JS/CSS into the extracted content.
        self._overflow_stack: list[tuple[str, bool]] = []
        self._suppress = 0

    def handle_starttag(self, tag, attrs):
        if tag in self.VOID:
            if tag == "meta":
                self.meta.append(dict(attrs))
            elif tag == "br" and not self._suppress:
                self.cur.children.append("\n")
            return
        if tag == "title":
            self._in_title = True
        if self._depth >= MAX_DOM_DEPTH:
            starts_skip = (tag in SKIP_TAGS
                           or _is_boilerplate_attrs(dict(attrs)))
            self._overflow_stack.append((tag, starts_skip))
            if starts_skip:
                self._suppress += 1
            return
        skip = (self.cur.skip or tag in SKIP_TAGS
                or _is_boilerplate_attrs(dict(attrs)))
        node = _Node(tag, self.cur, skip)
        self.cur.children.append(node)
        self.cur = node
        self._depth += 1

    def handle_endtag(self, tag):
        if tag == "title":
            self._in_title = False
        if self._overflow_stack:
            tags = [t for t, _ in self._overflow_stack]
            if tag in tags:
                # close the nearest discarded start of this name plus any
                # discarded tags opened after it (implicit close)
                idx = len(tags) - 1 - tags[::-1].index(tag)
                for _, started in self._overflow_stack[idx:]:
                    if started:
                        self._suppress -= 1
                del self._overflow_stack[idx:]
                return
            # not a discarded tag: either it closes an OPEN pre-cap
            # ancestor (implicitly closing every discarded tag — fall
            # through to the normal unwind) or it is a stray end tag
            # never opened, which must NOT cancel suppression (a stray
            # </em> inside a suppressed footer subtree would otherwise
            # leak all remaining boilerplate text)
            probe = self.cur
            while probe is not self.root and probe.tag != tag:
                probe = probe.parent
            if probe is self.root:
                return          # stray: ignore entirely
            self._overflow_stack.clear()
            self._suppress = 0
        node = self.cur
        steps = 0
        while node is not self.root and node.tag != tag:
            node = node.parent
            steps += 1
        if node is not self.root:
            # _depth is the cursor's distance from root; the unwind
            # climbed ``steps`` to reach the matching tag and lands on
            # its parent — O(1) bookkeeping instead of re-walking to
            # the root on EVERY end tag (round 8: the re-walk was
            # O(depth) × ~55 end tags per page in the hot stage)
            self.cur = node.parent
            self._depth -= steps + 1

    def handle_data(self, data):
        if self._in_title:
            self.title_parts.append(data)
        if self._suppress:
            return          # inside an over-deep skip/boilerplate subtree
        self.cur.children.append(data)


def _node_text(node) -> tuple[str, int]:
    """Flattened text and anchor-char count of a subtree."""
    if isinstance(node, str):
        return node, 0
    text, anchor = [], 0
    for ch in node.children:
        t, a = _node_text(ch)
        text.append(t)
        anchor += a
    joined = "".join(text)
    if node.tag == "a":
        anchor = len(" ".join(joined.split()))
    return joined, anchor


def _norm(s: str) -> str:
    # ≡ re.sub(r"\s+", " ", s).strip(): str.split()'s whitespace set equals
    # regex \s (verified across the BMP in tests) and join/split skips
    # the regex machinery — _norm runs tens of times per document
    return " ".join(s.split())


class _Emitter:
    """Walks the tree emitting markdown-ish blocks with link-density gating."""

    def __init__(self):
        self.blocks: list[tuple[str, str]] = []   # (kind, text)
        self.stopped = False

    def walk(self, node: _Node):
        if self.stopped:
            return
        buf: list[str] = []

        def flush():
            # bare text directly inside a walked container (divs on real
            # CC pages, or content flattened by the DOM-depth cap) becomes
            # a paragraph block — structural whitespace normalizes away
            text = _norm("".join(buf))
            buf.clear()
            if text and not self._is_navlike(text, 0):
                self.blocks.append(("p", text))

        for ch in node.children:
            if self.stopped:
                return
            if isinstance(ch, str):
                if not node.skip:
                    buf.append(ch)
                continue
            flush()
            if ch.skip:
                continue
            tag = ch.tag
            if tag in HEADING_TAGS:
                text = _norm(_node_text(ch)[0])
                if not text:
                    continue
                if text.lower().startswith(STOP_HEADINGS):
                    self.stopped = True
                    return
                self.blocks.append(("heading:" + HEADING_TAGS[tag], text))
            elif tag in ("li", "p"):
                text, anchor = _node_text(ch)
                text = _norm(text)
                if text and not self._is_navlike(text, anchor):
                    self.blocks.append((tag, text))
            elif tag in ("ul", "ol"):
                # gate the whole list by aggregate link density (menus die here)
                text, anchor = _node_text(ch)
                if self._is_navlike(_norm(text), anchor):
                    continue
                self.walk(ch)
            elif tag == "table":
                continue  # tables removed (B5 analog)
            else:
                self.walk(ch)
        flush()

    @staticmethod
    def _is_navlike(text: str, anchor_chars: int) -> bool:
        n = len(text)
        if n == 0:
            return True
        density = anchor_chars / n
        return density > LINK_DENSITY_MAX and n < MIN_PROSE_CHARS


# ---------------------------------------------------------------------------
# Fast tokenizer (round-8 optimization, guide §1.2 step 2 "per-task work").
#
# Profiling the extraction hot stage showed ~60% of the HTML route inside
# html.parser's feed machinery (goahead / parse_starttag / updatepos /
# check_for_whole_start_tag — per-token method dispatch and incremental-
# buffer bookkeeping we never need: documents arrive whole). _fast_parse
# replicates HTMLParser.feed(doc); close() for convert_charrefs=True
# BYTE-FOR-BYTE — same module regexes, same malformed-input recovery, same
# cdata (script/style) handling — in one tight loop driving the same
# _TreeBuilder handlers. Anything whose stdlib handling is stateful in a
# way not replicated here (marked sections "<![") returns False and the
# caller re-parses the whole document with the stdlib path. Equivalence is
# pinned by tests over the datagen corpus, the frozen fixtures and an
# adversarial mutation sweep.
# ---------------------------------------------------------------------------

from html.parser import (attrfind_tolerant, commentclose, endtagfind,
                         locatestarttagend_tolerant, tagfind_tolerant)

_CDATA_RE = {
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}
# attribute-free start tag incl. the terminating '>' (no '/', no attrs):
# the overwhelmingly common case skips the attr loop entirely
_SIMPLE_TAG = re.compile(r"<([a-zA-Z][a-zA-Z0-9]*)>")
# start tag whose attributes are all double-quoted, '&'-free and
# whitespace-separated — on a match, the tolerant machinery provably
# yields exactly (name.lower(), value) pairs with no unescape effect,
# so the big verbose-regex + per-attr match loop can be skipped
_EASY_TAG = re.compile(
    r'<([a-zA-Z][a-zA-Z0-9]*)'
    r'((?:\s+[a-zA-Z][-a-zA-Z0-9_:.]*="[^"<>&]*")*)\s*(/?)>')
_EASY_ATTR = re.compile(r'([a-zA-Z][-a-zA-Z0-9_:.]*)="([^"]*)"')
# well-formed end tag (no spaces): first '>' is the matched one, so this
# short-circuits endendtag.search + endtagfind.match
_SIMPLE_END = re.compile(r"</([a-zA-Z][a-zA-Z0-9]*)>")
_ATTR_END_CHARS = ("abcdefghijklmnopqrstuvwxyz=/"
                   "ABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _fast_parse(tb: "_TreeBuilder", rawdata: str) -> bool:
    handle_data = tb.handle_data
    handle_starttag = tb.handle_starttag
    handle_endtag = tb.handle_endtag
    find = rawdata.find
    startswith = rawdata.startswith
    n = len(rawdata)
    i = 0
    cdata_elem = None
    cdata_re = None
    while i < n:
        if cdata_elem is None:
            j = find("<", i)
            if j < 0:
                j = n
        else:
            m = cdata_re.search(rawdata, i)
            if m is None:
                return True      # unterminated cdata: stdlib drops the rest
            j = m.start()
        if i < j:
            handle_data(rawdata[i:j] if cdata_elem is not None
                        else unescape(rawdata[i:j]))
        i = j
        if i == n:
            break
        c = rawdata[i + 1] if i + 1 < n else ""
        if ("a" <= c <= "z") or ("A" <= c <= "Z"):
            # ---- start tag (parse_starttag + check_for_whole_start_tag)
            sm = _SIMPLE_TAG.match(rawdata, i)
            if sm is not None:
                tag = sm.group(1).lower()
                handle_starttag(tag, [])
                if tag in ("script", "style"):
                    cdata_elem = tag
                    cdata_re = _CDATA_RE[tag]
                i = sm.end()
                continue
            em2 = _EASY_TAG.match(rawdata, i)
            if em2 is not None:
                tag = em2.group(1).lower()
                attrs = [(a.lower(), v)
                         for a, v in _EASY_ATTR.findall(em2.group(2))]
                handle_starttag(tag, attrs)
                if em2.group(3):
                    handle_endtag(tag)
                elif tag in ("script", "style"):
                    cdata_elem = tag
                    cdata_re = _CDATA_RE[tag]
                i = em2.end()
                continue
            lm = locatestarttagend_tolerant.match(rawdata, i)
            j2 = lm.end()
            nxt = rawdata[j2:j2 + 1]
            if nxt == ">":
                endpos = j2 + 1
            elif nxt == "/":
                endpos = j2 + 2 if startswith("/>", j2) else -1
            elif nxt == "" or nxt in _ATTR_END_CHARS:
                endpos = -1
            else:
                endpos = j2 if j2 > i else i + 1
            if endpos < 0:
                k = -1
            else:
                nm = tagfind_tolerant.match(rawdata, i + 1)
                k2 = nm.end()
                tag = nm.group(1).lower()
                attrs = []
                while k2 < endpos:
                    am = attrfind_tolerant.match(rawdata, k2)
                    if am is None:
                        break
                    attrname, rest, attrvalue = am.group(1, 2, 3)
                    if not rest:
                        attrvalue = None
                    elif attrvalue[:1] == "'" == attrvalue[-1:] or \
                            attrvalue[:1] == '"' == attrvalue[-1:]:
                        attrvalue = attrvalue[1:-1]
                    if attrvalue:
                        attrvalue = unescape(attrvalue)
                    attrs.append((attrname.lower(), attrvalue))
                    k2 = am.end()
                end = rawdata[k2:endpos].strip()
                if end not in (">", "/>"):
                    handle_data(rawdata[i:endpos])
                elif end == "/>":
                    handle_starttag(tag, attrs)
                    handle_endtag(tag)
                else:
                    handle_starttag(tag, attrs)
                    if tag in ("script", "style"):
                        cdata_elem = tag
                        cdata_re = _CDATA_RE[tag]
                k = endpos
        elif c == "/":
            # ---- end tag (parse_endtag)
            if cdata_elem is None:
                se = _SIMPLE_END.match(rawdata, i)
                if se is not None:
                    handle_endtag(se.group(1).lower())
                    i = se.end()
                    continue
            gt0 = find(">", i + 1)
            if gt0 < 0:
                k = -1
            else:
                gtpos = gt0 + 1
                em = endtagfind.match(rawdata, i)
                if em is None:
                    if cdata_elem is not None:
                        handle_data(rawdata[i:gtpos])
                        k = gtpos
                    else:
                        nm = tagfind_tolerant.match(rawdata, i + 2)
                        if nm is None:
                            if startswith("</>", i):
                                k = i + 3
                            else:           # parse_bogus_comment
                                pos = find(">", i + 2)
                                k = pos + 1 if pos >= 0 else -1
                        else:
                            handle_endtag(nm.group(1).lower())
                            k = find(">", nm.end()) + 1
                else:
                    elem = em.group(1).lower()
                    if cdata_elem is not None and elem != cdata_elem:
                        handle_data(rawdata[i:gtpos])
                    else:
                        handle_endtag(elem)
                        cdata_elem = cdata_re = None
                    k = gtpos
        elif startswith("<!--", i):
            cm = commentclose.search(rawdata, i + 4)
            k = cm.end() if cm else -1
        elif c == "?":
            pos = find(">", i + 2)
            k = pos + 1 if pos >= 0 else -1
        elif c == "!":
            if startswith("<![", i):
                return False    # marked section: stdlib-only machinery
            if rawdata[i:i + 9].lower() == "<!doctype":
                pos = find(">", i + 9)
                k = pos + 1 if pos >= 0 else -1
            else:               # parse_bogus_comment
                pos = find(">", i + 2)
                k = pos + 1 if pos >= 0 else -1
        else:
            # lone '<' before junk or EOF
            handle_data("<")
            k = i + 1
        if k < 0:
            # unterminated construct at EOF — goahead(end=1) recovery
            k = find(">", i + 1)
            if k < 0:
                k = find("<", i + 1)
                if k < 0:
                    k = i + 1
            else:
                k += 1
            handle_data(rawdata[i:k] if cdata_elem is not None
                        else unescape(rawdata[i:k]))
        i = k
    if i < n and cdata_elem is None:
        handle_data(unescape(rawdata[i:n]))
    return True


def extract_html(html: str) -> dict:
    """Extract main content + metadata from an HTML document.

    Returns dict with keys: extracted_text, title, abstract, authors,
    headings, spans (list of (start, end, kind, text) over extracted_text).
    """
    tb = _TreeBuilder()
    try:
        ok = _fast_parse(tb, html)
    except Exception:
        ok = False
    if not ok:
        tb = _TreeBuilder()
        try:
            tb.feed(html)
            tb.close()
        except Exception:
            pass  # keep whatever tree we built from malformed input

    title = _norm("".join(tb.title_parts)) or None
    authors: list[str] = []
    abstract = None
    for m in tb.meta:
        name = (m.get("name") or m.get("property") or "").lower()
        content = m.get("content")
        if not content:
            continue
        if name in ("author", "article:author", "citation_author", "dc.creator"):
            authors.append(_norm(content))
        elif name in ("description", "og:description", "citation_abstract",
                      "dc.description") and abstract is None:
            abstract = _norm(content)

    em = _Emitter()
    em.walk(tb.root)

    parts: list[str] = []
    spans: list[tuple[int, int, str, str]] = []
    pos = 0
    first_heading = None
    for kind, text in em.blocks:
        if kind.startswith("heading:"):
            hashes = kind.split(":", 1)[1]
            rendered = f"{hashes} {text}"
            span_kind = "heading"
            if first_heading is None:
                first_heading = text
        elif kind == "li":
            rendered = f"- {text}"
            span_kind = "list_item"
        else:
            rendered = text
            span_kind = "paragraph"
        start = pos
        parts.append(rendered)
        pos += len(rendered) + 1  # '\n' joiner
        spans.append((start, start + len(rendered), span_kind, text))

    extracted = "\n".join(parts)
    if title is None:
        title = first_heading
    if abstract is None:
        # first prose paragraph long enough to be a lede
        for kind, text in em.blocks:
            if kind == "p" and len(text) >= 40:
                abstract = text
                break
    headings = [t for k, t in em.blocks if k.startswith("heading:")]
    return {
        "extracted_text": extracted,
        "title": title,
        "abstract": abstract,
        "authors": authors,
        "headings": headings,
        "spans": spans,
    }


def extract_html_bytes(raw: bytes) -> dict:
    """Decode (utf-8, latin-1 fallback) then extract."""
    try:
        html = raw.decode("utf-8")
    except UnicodeDecodeError:
        html = raw.decode("latin-1")
    return extract_html(html)
