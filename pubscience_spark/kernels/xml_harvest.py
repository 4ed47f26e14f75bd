"""PubMed-style XML harvesting kernels (operator families S4, H1-H3).

Re-derived semantics (no bs4/lxml available — stdlib ``re`` implementation):

- article splitter: stream-split concatenated ``<PubmedArticle>`` docs,
  grab the first ``<PMID>`` (cf. ``retrieve/pubmed/extractor/utils.py:44-81``) (S4)
- field harvest: abstract / articletitle / pmid / pubdate year+month /
  mesh ids+terms / pmc articleid / language; skip when any of
  abstract|title|pmid missing; drop CopyrightInformation from the abstract;
  whitespace-normalize via ``' '.join(text.split())``
  (cf. ``retrieve/pubmed/extractor/parse.py:18-71``) (H3)
- ``<body>``/``<p>`` pull + ext-link/xref strip + MAX_WORDS greedy chunking
  (cf. ``retrieve/pubmed/parse_fulltext.py:27-59``) (H1/H2)
"""

from __future__ import annotations

import re

_FLAGS = re.IGNORECASE | re.DOTALL


def _inner(tag: str, text: str) -> str | None:
    """First ``<tag ...>inner</tag>`` inner text, case-insensitive."""
    m = re.search(rf"<{tag}(?:\s[^>]*)?>(.*?)</{tag}>", text, _FLAGS)
    return m.group(1) if m else None


_RE_ANYTAG = re.compile(r"<[^>]+>")


def _text_of(fragment: str | None) -> str | None:
    """bs4 ``get_text()`` analog: strip tags, collapse whitespace."""
    if fragment is None:
        return None
    return " ".join(_RE_ANYTAG.sub("", fragment).split()) or None


def split_pubmed_articles(blob: str) -> list[str]:
    """S4: split a concatenated stream into ``<PubmedArticle>`` chunks."""
    return re.findall(r"<PubmedArticle(?:\s[^>]*)?>.*?</PubmedArticle>",
                      blob, _FLAGS)


def harvest_article(article_xml: str) -> dict | None:
    """H3: field harvest; returns None when abstract/title/pmid missing."""
    abstract_frag = _inner("Abstract", article_xml)
    if abstract_frag is not None:
        abstract_frag = re.sub(
            r"<CopyrightInformation(?:\s[^>]*)?>.*?</CopyrightInformation>",
            "", abstract_frag, flags=_FLAGS)
    abstract = _text_of(abstract_frag)
    title = _text_of(_inner("ArticleTitle", article_xml))
    pmid = _text_of(_inner("PMID", article_xml))
    if abstract is None or title is None or pmid is None:
        return None

    pubdate_year = pubdate_month = ""
    pubdate = _inner("PubDate", article_xml)
    if pubdate is not None:
        y = _text_of(_inner("Year", pubdate))
        m = _text_of(_inner("Month", pubdate))
        pubdate_year = y or ""
        pubdate_month = m or ""

    mesh_ids: list[str] = []
    mesh_terms: list[str] = []
    mesh = _inner("MeshHeadingList", article_xml)
    if mesh is not None:
        mesh_ids = re.findall(r'\bUI="([^"]+)"', mesh, re.IGNORECASE)
        mesh_terms = [
            " ".join(t.split())
            for t in re.findall(
                r"<DescriptorName(?:\s[^>]*)?>(.*?)</DescriptorName>",
                mesh, _FLAGS)
        ]

    pmc = None
    m = re.search(
        r'<ArticleId\s[^>]*IdType="pmc"[^>]*>(.*?)</ArticleId>',
        article_xml, _FLAGS)
    if m:
        pmc = " ".join(_RE_ANYTAG.sub("", m.group(1)).split())

    language = _text_of(_inner("Language", article_xml))

    return {
        "pmid": pmid,
        "title": title,
        "abstract": abstract,
        "pubdate_year": pubdate_year,
        "pubdate_month": pubdate_month,
        "mesh_ids": mesh_ids,
        "mesh_terms": mesh_terms,
        "pmc": pmc,
        "language": language,
    }


# --- H1/H2: fulltext body paragraphs + word-bounded chunking ---------------

_RE_BODY = re.compile(r"<body>(.*?)</body>", re.DOTALL)
_RE_PARA = re.compile(r"<p>(.*?)</p>", re.DOTALL)
_RE_EXTLINK = re.compile(r"<ext-link[^>]*>.*?</ext-link>", re.DOTALL)
_RE_XREF = re.compile(r"<xref[^>]*>.*?</xref>", re.DOTALL)
_RE_TAG = re.compile(r"<[^>]+>")
_RE_WORD = re.compile(r"\S+")


def body_paragraphs(xml: str) -> list[str]:
    """Cleaned non-empty paragraph texts of every ``<body>``."""
    out = []
    for body in _RE_BODY.findall(xml):
        for para in _RE_PARA.findall(body):
            text = _RE_EXTLINK.sub("", para)
            text = _RE_XREF.sub("", text)
            text = _RE_TAG.sub("", text).strip()
            if text:
                out.append(text)
    return out


def chunk_paragraphs(paragraphs: list[str], max_words: int,
                     separator: str = " ") -> list[str]:
    """Greedy ≤max_words paragraph packing (parse_fulltext.py:43-59)."""
    chunks: list[str] = []
    cur: list[str] = []
    cur_words = 0
    for text in paragraphs:
        n = len(_RE_WORD.findall(text))
        if cur_words > 0 and cur_words + n > max_words:
            chunks.append(separator.join(cur))
            cur = [text]
            cur_words = n
        else:
            cur.append(text)
            cur_words += n
    if cur:
        chunks.append(separator.join(cur))
    return chunks


def extract_fulltext(xml: str, max_words: int = 512) -> dict:
    """H1+H2 composite: body paragraphs → chunks + harvest metadata."""
    meta = harvest_article(xml)
    paragraphs = body_paragraphs(xml)
    chunks = chunk_paragraphs(paragraphs, max_words) if paragraphs else []
    text = "\n".join(chunks)
    out = {
        "extracted_text": text,
        "title": None,
        "abstract": None,
        "authors": [],
        "mesh_terms": [],
        "language": None,
        "pmid": None,
    }
    if meta is not None:
        # final pretraining record shape: title + "\n" + abstract [+ body]
        # (cf. retrieve/pubmed/extractor/build_final_dataset.py:36-53)
        head = meta["title"] + "\n" + meta["abstract"]
        out["extracted_text"] = head + ("\n" + text if text else "")
        out["title"] = meta["title"]
        out["abstract"] = meta["abstract"]
        out["mesh_terms"] = meta["mesh_terms"]
        out["language"] = meta["language"]
        out["pmid"] = meta["pmid"]
    return out
