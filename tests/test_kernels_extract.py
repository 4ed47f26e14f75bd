"""Unit tests for the html / xml / pdf extraction kernels."""

from pubscience_spark.kernels import html_extract, pdfmini, xml_harvest

HTML = """<!DOCTYPE html><html><head><title>My Title | Site</title>
<meta name="author" content="A. Writer">
<meta name="description" content="A lede description here.">
</head><body>
<nav class="main-menu"><ul><li><a href="/a">Link1</a></li></ul></nav>
<article>
<h1>My Title</h1>
<p>First paragraph with enough prose to keep around for scoring.</p>
<h2>Section</h2>
<p>Second paragraph body text.</p>
<ul><li>item one text</li><li>item two text</li></ul>
<h2>References</h2>
<ol><li>Ref A</li><li>Ref B</li></ol>
</article>
<footer><a href="/x">foot</a></footer>
</body></html>"""


def test_html_extract_basics():
    r = html_extract.extract_html(HTML)
    assert r["title"] == "My Title | Site"
    assert r["authors"] == ["A. Writer"]
    assert r["abstract"] == "A lede description here."
    text = r["extracted_text"]
    assert text.startswith("# My Title")
    assert "First paragraph" in text and "## Section" in text
    assert "- item one text" in text


def test_html_stops_at_references():
    r = html_extract.extract_html(HTML)
    assert "Ref A" not in r["extracted_text"]


def test_html_skips_nav_and_footer():
    r = html_extract.extract_html(HTML)
    assert "Link1" not in r["extracted_text"]
    assert "foot" not in r["extracted_text"]


def test_html_link_density_gate():
    nav = ("<html><body><ul>" +
           "".join(f'<li><a href="/{i}">nav {i}</a></li>' for i in range(8)) +
           "</ul><p>Real prose sentence that should survive the gate "
           "because it is long and mostly plain text.</p></body></html>")
    r = html_extract.extract_html(nav)
    assert "nav 0" not in r["extracted_text"]
    assert "Real prose" in r["extracted_text"]


def test_html_spans_offsets():
    r = html_extract.extract_html(HTML)
    for start, end, kind, text in r["spans"]:
        rendered = r["extracted_text"][start:end]
        assert text in rendered  # rendered includes '#'/'- ' prefixes


def test_html_malformed_no_crash():
    r = html_extract.extract_html("<html><body><p>unclosed "
                                  "<div><b>messy</body>")
    assert "unclosed" in r["extracted_text"] or r["extracted_text"] == "" \
        or "messy" in r["extracted_text"]


XML = """<?xml version="1.0"?>
<PubmedArticle><MedlineCitation>
<PMID>123</PMID>
<Article><ArticleTitle>T  itle here</ArticleTitle>
<Abstract><AbstractText>Abstract body.</AbstractText>
<CopyrightInformation>(c) pub</CopyrightInformation></Abstract>
<Language>eng</Language>
<Journal><JournalIssue><PubDate><Year>1999</Year><Month>5</Month></PubDate></JournalIssue></Journal>
</Article>
<MeshHeadingList>
<MeshHeading><DescriptorName UI="D001">Heart Disease</DescriptorName></MeshHeading>
<MeshHeading><DescriptorName UI="D002">Lungs</DescriptorName></MeshHeading>
</MeshHeadingList>
</MedlineCitation>
<PubmedData><ArticleIdList><ArticleId IdType="pmc">PMC9</ArticleId></ArticleIdList></PubmedData>
<body><p>Para one words here.</p><p>Para two <xref rid="b1">[1]</xref>more
<ext-link href="http://x">link</ext-link>.</p></body>
</PubmedArticle>"""


def test_xml_harvest_fields():
    m = xml_harvest.harvest_article(XML)
    assert m["pmid"] == "123"
    assert m["title"] == "T itle here"  # whitespace-normalized
    assert m["abstract"] == "Abstract body."  # copyright removed
    assert m["pubdate_year"] == "1999" and m["pubdate_month"] == "5"
    assert m["mesh_ids"] == ["D001", "D002"]
    assert m["mesh_terms"] == ["Heart Disease", "Lungs"]
    assert m["pmc"] == "PMC9" and m["language"] == "eng"


def test_xml_harvest_missing_fields_returns_none():
    assert xml_harvest.harvest_article("<PubmedArticle><PMID>1</PMID>"
                                       "</PubmedArticle>") is None


def test_xml_body_paragraphs_strip_xref_extlink():
    paras = xml_harvest.body_paragraphs(XML)
    assert paras[0] == "Para one words here."
    assert "[1]" not in paras[1] and "link" not in paras[1]


def test_xml_chunking():
    chunks = xml_harvest.chunk_paragraphs(["a b c", "d e", "f g h i"],
                                          max_words=5)
    # greedy: [a b c + d e] = 5 words, then [f g h i]
    assert chunks == ["a b c d e", "f g h i"]


def test_xml_split_articles():
    blob = XML + "\n" + XML.replace("123", "456")
    parts = xml_harvest.split_pubmed_articles(blob)
    assert len(parts) == 2


def test_extract_fulltext_title_abstract_head():
    r = xml_harvest.extract_fulltext(XML)
    assert r["extracted_text"].startswith("T itle here\nAbstract body.")
    assert "Para one" in r["extracted_text"]


def _mini_pdf(pages, producer="SynthWriter 1.0"):
    objs = []
    for pt in pages:
        safe = pt.replace("(", r"\(").replace(")", r"\)").replace("\n", r"\n")
        content = f"BT /F1 12 Tf ({safe}) Tj ET".encode()
        objs.append(b"<< /Length %d >>\nstream\n%s\nendstream"
                    % (len(content), content))
    body = b"\n".join(b"obj\n/Type /Page\n%s\nendobj" % o for o in objs)
    return (b"%PDF-1.4\n/Producer (" + producer.encode() + b")\n" + body
            + b"\n%%EOF\n")


def test_pdf_pages_roundtrip():
    pdf = _mini_pdf(["hello world page one", "page two text"])
    pages, error, scanned, producer = pdfmini.pdf_to_pages(pdf)
    assert pages == ["hello world page one", "page two text"]
    assert error is None and scanned is False
    assert producer == "SynthWriter 1.0"


def test_pdf_scan_detection_via_producer():
    # producer keywords are the effective detector (SURVEY.md §2.11)
    pdf = _mini_pdf(["x"], producer="ACME Scanner 2")
    _, _, scanned, _ = pdfmini.pdf_to_pages(pdf)
    assert scanned is True


def test_pdf_not_a_pdf():
    pages, error, scanned, _ = pdfmini.pdf_to_pages(b"<html>nope</html>")
    assert pages == [] and error == "not-a-pdf"


def test_pdf_summary_capture():
    filler = " ".join(f"word{i}" for i in range(60))
    pages = [f"intro {filler}",
             "Summary\n" + filler,
             f"more summary body {filler}",
             "References\n1. a\n2. b"]
    english, dutch = pdfmini.extract_summary(pages)
    assert "Summary" in english and "word3" in english
    assert "References" not in english
    assert dutch == ""


def test_pdf_body_filter():
    filler = " ".join(f"w{i}" for i in range(60))
    pages = [filler,                       # kept
             "short page",                 # < 50 words → dropped
             f"{filler} all rights reserved",  # copyright → dropped
             f"chapter one {filler} chapter two"]  # ≥2 'chapter ' → dropped
    kept, counts = pdfmini.text_extractor(pages)
    assert len(kept) == 1 and counts == [60]


def _stream_obj(content: bytes, filters: str = "") -> bytes:
    hdr = f"<< /Length {len(content)} {filters} >>".encode()
    return b"obj\n/Type /Page\n" + hdr + b"\nstream\n" + content + \
        b"\nendstream\nendobj"


def test_pdf_hex_strings_and_quote_operators():
    # non-fixture shapes: hex-string Tj, ' operator, hex inside TJ arrays
    content = (b"BT <48656C6C6F20686578> Tj (lit one) ' "
               b"[(arr a) <2062> (c)] TJ ET")
    pdf = b"%PDF-1.4\n" + _stream_obj(content) + b"\n%%EOF\n"
    pages, error, scanned, _ = pdfmini.pdf_to_pages(pdf)
    assert error is None
    assert pages == ["Hello hex\nlit one\narr a\n b\nc"]


def test_pdf_filter_cascade_ascii85_flate():
    import base64
    import zlib
    text = b"BT (cascade payload works) Tj ET"
    enc = base64.a85encode(zlib.compress(text)) + b"~>"
    pdf = (b"%PDF-1.4\n"
           + _stream_obj(enc, "/Filter [/ASCII85Decode /FlateDecode]")
           + b"\n%%EOF\n")
    pages, error, _, _ = pdfmini.pdf_to_pages(pdf)
    assert error is None and pages == ["cascade payload works"]


def test_pdf_asciihex_filter_and_unsupported():
    text = b"BT (hexed body) Tj ET"
    enc = text.hex().encode() + b">"
    pdf = (b"%PDF-1.4\n" + _stream_obj(enc, "/Filter /ASCIIHexDecode")
           + b"\n%%EOF\n")
    pages, error, _, _ = pdfmini.pdf_to_pages(pdf)
    assert error is None and pages == ["hexed body"]
    # LZWDecode gained real support in round 3 — DCTDecode (JPEG) stays
    # an honest unsupported-filter error
    bad = (b"%PDF-1.4\n" + _stream_obj(b"xx", "/Filter /DCTDecode")
           + b"\n%%EOF\n")
    pages, error, _, _ = pdfmini.pdf_to_pages(bad)
    assert error == "unsupported-filter" and pages == [""]


def test_pdf_link_harvest():
    # P8 (scrapers/scrapers.py:170-194): /URI annotations, raw + in-stream
    import zlib
    annot = (b"obj\n<< /Type /Annot /A << /S /URI "
             b"/URI (https://example.org/a) >> >>\nendobj\n")
    in_stream = zlib.compress(
        b"<< /A << /URI (https://example.org/b) >> >>")
    pdf = (b"%PDF-1.4\n" + annot
           + _stream_obj(in_stream, "/Filter /FlateDecode")
           + b"\nobj\n<< /A << /URI (https://example.org/a) >> >>\nendobj\n"
           + b"%%EOF\n")
    assert pdfmini.pdf_links(pdf) == ["https://example.org/a",
                                      "https://example.org/b"]
    assert pdfmini.pdf_links(b"%PDF-1.4\nno links\n%%EOF\n") == []


def test_html_default_emits_no_markdown_syntax():
    html = """<html><body><article>
    <h2>Guide</h2>
    <p>See <a href="https://x.org/a">the trial</a> for <strong>strong</strong>
       and <em>subtle</em> <code>code()</code> results.</p>
    <ul><li>top item</li><li>second<ul><li>nested item</li></ul></li></ul>
    <blockquote>Quoted wisdom here.</blockquote>
    <pre>x = 1
y = 2</pre>
    </article></body></html>"""
    plain = html_extract.extract_html(html)["extracted_text"]
    # no markdown inline syntax, quote prefixes or code fences
    assert "[the trial]" not in plain and "**" not in plain
    assert "> Quoted" not in plain and "```" not in plain


def test_html_images_invisible_and_tables_dropped():
    html = """<html><body><article>
    <p>Before <img src="/fig1.png" alt="Figure 1"> after.</p>
    <div>bare text <img src="/x.png" alt="inline pic"> continues</div>
    <table>
      <thead><tr><th>Drug</th><th>Dose | unit</th></tr></thead>
      <tbody>
        <tr><td>aspirin</td><td><strong>100</strong> mg</td></tr>
        <tr><td>ibuprofen</td><td>200 mg</td></tr>
      </tbody>
    </table>
    <img src="/logo.png" alt="">
    </article></body></html>"""
    plain = html_extract.extract_html(html)["extracted_text"]
    # images invisible, surrounding bare text stays ONE paragraph,
    # tables dropped (B5)
    assert "![" not in plain and "fig1.png" not in plain
    assert "bare text continues" in plain
    assert "aspirin" not in plain


def test_html_depth_cap_preserves_text():
    # 50k unclosed <p> tags auto-nest: pre-cap this was a RecursionError
    # and 0 extracted chars; now content past MAX_DOM_DEPTH flattens
    big = "<html><body>" + "<p>word " * 50000 + "</p></body></html>"
    r = html_extract.extract_html(big)
    assert "word word" in r["extracted_text"]
    assert len(r["extracted_text"]) > 100000
    deep = ("<html><body>" + "<div>" * 5000 + "<p>kept para</p>"
            + "</div>" * 5000 + "</body></html>")
    r2 = html_extract.extract_html(deep)
    assert r2["extracted_text"] == "kept para"


def test_html_depth_cap_still_suppresses_skip_subtrees():
    """ADVICE round 2: past MAX_DOM_DEPTH, <script>/<style>/boilerplate
    subtrees must still swallow their text, and end tags of discarded
    nodes must not desync the pre-cap cursor."""
    nest = "<div>" * (html_extract.MAX_DOM_DEPTH + 5)
    unnest = "</div>" * (html_extract.MAX_DOM_DEPTH + 5)
    html = ("<html><body>" + nest
            + "<script>var evil = 'JSLEAK';</script>"
            + "<style>.x{color:CSSLEAK}</style>"
            + '<nav class="nav">NAVLEAK</nav>'
            + "over-deep prose stays "
            + unnest + "<p>after para</p></body></html>")
    r = html_extract.extract_html(html)
    txt = r["extracted_text"]
    assert "JSLEAK" not in txt and "CSSLEAK" not in txt
    assert "NAVLEAK" not in txt
    assert "over-deep prose stays" in txt      # non-skip text preserved
    assert "after para" in txt                 # cursor resynced post-cap


def test_html_depth_cap_precap_endtag_resyncs():
    """An end tag closing a PRE-cap node from inside an overflow region
    implicitly closes all discarded tags (no stale suppression)."""
    nest = "<section>" * (html_extract.MAX_DOM_DEPTH + 3)
    # </body> closes a pre-cap node while <span> overflow tags are open
    html = ("<html><body>" + nest + "<span><script>LEAK1</script>"
            + "</body></html><p>outside</p>")
    r = html_extract.extract_html(html)
    assert "LEAK1" not in r["extracted_text"]
    # suppression must not stick past the pre-cap close
    html2 = ("<html><body><p>pre</p>" + nest
             + "<script>LEAK2" + "</body>" + "<p>post text</p></html>")
    r2 = html_extract.extract_html(html2)
    assert "LEAK2" not in r2["extracted_text"]
    assert "pre" in r2["extracted_text"]


def test_html_depth_cap_stray_endtag_keeps_suppression():
    """Round-3 review: a stray end tag (never opened) inside an over-deep
    suppressed subtree must not cancel suppression."""
    nest = "<div>" * (html_extract.MAX_DOM_DEPTH + 2)
    html = ("<html><body>" + nest
            + '<nav class="footer">start </em> LEAKYNAV</nav>'
            + "safe text here</body></html>")
    r = html_extract.extract_html(html)
    assert "LEAKYNAV" not in r["extracted_text"]
    assert "safe text here" in r["extracted_text"]
