"""The HTML route (H4/H5) against a frozen digest.

The digest covers every ``extract_one`` field for two corpora: seeded
``make_article_html`` pages, and seeded pages composed from the markup the
emitter treats specially or ignores — images (with and without alt/title,
inside paragraphs, list items, bare ``<div>`` text, skipped subtrees and
past ``MAX_DOM_DEPTH``), tables (``thead``/``tbody`` and header-only),
``blockquote``, ``pre``, nested lists and inline ``a``/``strong``/``em``/
``code``. A change to any output byte of any page moves it.
"""

import hashlib
import json
import random

from pubscience_spark.datagen.pages import make_article_html
from pubscience_spark.kernels.html_extract import MAX_DOM_DEPTH
from pubscience_spark.operators.extract import extract_one

_WORDS = ("aspirin dose trial cohort result heart lung study patient "
          "risk outcome review figure table code value").split()


def _words(rng: random.Random, lo: int = 2, hi: int = 12) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _img(rng: random.Random) -> str:
    attrs = []
    if rng.random() < 0.8:
        attrs.append(f'src="/img/{rng.randint(0, 99)}.png"')
    if rng.random() < 0.6:
        attrs.append(f'alt="{_words(rng, 0, 3)}"')
    if rng.random() < 0.4:
        attrs.append(f"title='{_words(rng, 1, 2)}'")
    close = rng.choice([">", "/>", " />", "></img>"])
    return "<img " + " ".join(attrs) + close if attrs else "<img" + close


def _inline(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(1, 6)):
        w = _words(rng, 1, 4)
        parts.append(rng.choice([
            w, f'<a href="/l/{rng.randint(0, 9)}">{w}</a>', f"<a>{w}</a>",
            f"<strong>{w}</strong>", f"<b>{w}</b>", f"<em>{w}</em>",
            f"<i>{w}</i>", f"<code>{w}()</code>", "<strong> </strong>",
            _img(rng)]))
    return " ".join(parts)


def _table(rng: random.Random) -> str:
    ncol = rng.randint(1, 3)
    head = "<tr>" + "".join(f"<th>{_words(rng, 1, 2)} | u</th>"
                            for _ in range(ncol)) + "</tr>"
    rows = "".join("<tr>" + "".join(f"<td>{_inline(rng)}</td>"
                                    for _ in range(ncol)) + "</tr>"
                   for _ in range(rng.randint(0, 3)))
    shape = rng.randrange(3)
    if shape == 0:
        return f"<table><thead>{head}</thead><tbody>{rows}</tbody></table>"
    if shape == 1:
        return f"<table>{head}</table>"            # header-only
    return f"<table>{head}{rows}<tfoot>{head}</tfoot></table>"


def _list(rng: random.Random, depth: int = 0) -> str:
    tag = rng.choice(["ul", "ol"])
    items = []
    for _ in range(rng.randint(1, 4)):
        item = _inline(rng)
        if depth < 2 and rng.random() < 0.4:
            item += _list(rng, depth + 1)
        items.append(f"<li>{item}</li>")
    return f"<{tag}>{''.join(items)}</{tag}>"


def _menu(rng: random.Random) -> str:
    links = "".join(f'<li><a href="/m/{i}">{_words(rng, 1, 2)}</a>'
                    f"{_img(rng) if rng.random() < 0.5 else ''}</li>"
                    for i in range(rng.randint(3, 8)))
    return f"<ul>{links}</ul>"


def _fragment(rng: random.Random) -> str:
    kind = rng.randrange(12)
    if kind == 0:
        return f"<p>{_inline(rng)}</p>"
    if kind == 1:
        return f"<div>{_words(rng)} {_img(rng)} {_words(rng)}</div>"
    if kind == 2:
        return _table(rng)
    if kind == 3:
        return f"<blockquote>{_inline(rng)}</blockquote>"
    if kind == 4:
        return f"<pre>{_words(rng)}\n  {_words(rng)}\n</pre>"
    if kind == 5:
        return _list(rng)
    if kind == 6:
        return _menu(rng)
    if kind == 7:
        skip = rng.choice(['<nav>', '<footer>', '<div class="sidebar">',
                           '<aside role="complementary">'])
        close = "</" + skip[1:].split(">")[0].split(" ")[0] + ">"
        return f"{skip}{_words(rng)} {_img(rng)} {_inline(rng)}{close}"
    if kind == 8:
        lvl, end = rng.randint(1, 6), rng.randint(1, 6)
        return f"<h{lvl}>{_words(rng, 1, 5)}</h{end}>"
    if kind == 9:
        return (f"<figure>{_img(rng)}<figcaption>{_words(rng)}"
                "</figcaption></figure>")
    if kind == 10:
        return f"{_words(rng)} {_img(rng)}"            # bare text in <body>
    return f"<p>{_words(rng, 20, 40)}</p>"


def _deep(rng: random.Random) -> str:
    """Content past MAX_DOM_DEPTH: images, skip subtrees, lists, tables."""
    n = MAX_DOM_DEPTH + rng.randint(-2, 30)
    inner = " ".join(_fragment(rng) for _ in range(rng.randint(1, 4)))
    if rng.random() < 0.5:
        inner = f"<script>var x = 1;</script>{_img(rng)}{inner}"
    return "<div>" * n + inner + "</div>" * rng.choice([n, n // 2, 0])


def _construct_pages(n: int, seed: int) -> list[bytes]:
    rng = random.Random(seed)
    pages = []
    for i in range(n):
        body = "\n".join(_fragment(rng) for _ in range(rng.randint(2, 8)))
        if i % 5 == 0:
            body += _deep(rng)
        if i % 7 == 0:
            body += f"<h2>References</h2><p>{_inline(rng)}</p>"
        meta = ('<meta name="author" content="A B">' if i % 3 == 0 else "")
        pages.append((f"<html><head><title>{_words(rng, 0, 3)}</title>"
                      f"{meta}</head><body>{body}</body></html>")
                     .encode("utf-8"))
    return pages


def _article_pages(n: int, seed: int) -> list[bytes]:
    rng = random.Random(seed)
    return [make_article_html(rng, ("en", "nl", "de")[i % 3], i)
            .encode("utf-8") for i in range(n)]


# sha256 of the extract_one dicts over both corpora; a change to any field
# of any page moves it
HTML_ROUTE_DIGEST = \
    "8f772825e1ae18a78d6bf5d4b3f636076cf198a583d71b562958700e2d094cc0"


def test_html_route_digest_frozen():
    docs = _article_pages(1000, 20240501) + _construct_pages(500, 20240502)
    out = [extract_one(raw) for raw in docs]
    assert {d["route"] for d in out} == {"html"}
    assert not any(d["error"] for d in out)
    blob = json.dumps(out, sort_keys=True, ensure_ascii=False)
    digest = hashlib.sha256(blob.encode("utf-8")).hexdigest()
    assert digest == HTML_ROUTE_DIGEST
