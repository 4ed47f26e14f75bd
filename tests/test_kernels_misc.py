"""Unit tests: PII, langid, quality, hashing, segmentation."""

from pubscience_spark.kernels import hashing, langid, pii, quality, segment


def test_bsn_checksum():
    # known-valid examples from the 11-proof spec (anonymise/deduce.py:145-160)
    assert pii.bsn_is_valid("111222333")
    assert pii.bsn_is_valid("123456782")
    assert not pii.bsn_is_valid("123456789")


def test_bsn_mask():
    assert pii.mask_bsn(" 111222333 ") == " [BSN] "
    assert pii.mask_bsn(" 123456789 ") == " 123456789 "  # invalid → kept


def test_patient_id_mask():
    out = pii.mask_patient_ids("zie patientnr: 1234567 verder")
    assert "[PATIENTNUMMER]" in out and "1234567" not in out


def test_date_mask():
    assert pii.mask_dates("op 2021-03-04 was") == "op [DATUM] was"
    assert pii.mask_dates("op 4/3/2021 was") == "op [DATUM] was"


def test_number_mask_order():
    # floats first, then ints (anonymise/deduce.py:267-271)
    assert pii.mask_numbers("x 3.14 y 42") == "x [FLOAT] y [INT]"


def test_url_doi_mask():
    assert pii.mask_urls("zie www.ziekenhuis.nl/afdeling hier") == \
        "zie [URL] hier"
    assert pii.mask_dois("DOI 10.1000/182 end") == "[DOI] end"


def test_langid_en_nl_de():
    en = ("the patient was treated with the new therapy and the results "
          "were good for all of them")
    nl = ("de patiënt werd behandeld met een nieuwe therapie en de "
          "resultaten waren goed voor het onderzoek")
    de = ("der patient wurde mit einer neuen therapie behandelt und die "
          "ergebnisse waren gut für die untersuchung")
    assert langid.detect_lang(en) == "en"
    assert langid.detect_lang(nl) == "nl"
    assert langid.detect_lang(de) == "de"
    assert langid.detect_lang("") == "unknown"
    assert langid.detect_lang("zzz qqq xxx 123") == "unknown"


def test_langid_deterministic():
    text = "the and of to in is that the patient"
    assert all(langid.detect_lang(text) == "en" for _ in range(5))


def test_quality_features():
    f = quality.quality_features("The cat sat. The dog ran!")
    assert f["n_words"] == 6
    assert f["n_chars"] == 25
    assert 0 < f["punct_ratio"] < 0.2
    assert f["stopword_ratio"] > 0


def test_token_count():
    assert quality.token_count("ab 12 c!") == 4  # ab / 12 / c / !


def test_quality_score_bounds():
    assert 0.0 <= quality.quality_score("") <= 1.0
    good = "the " * 50 + "patient was treated well"
    assert quality.quality_score(good) > 0.5


def test_fingerprint_deterministic_and_shift_sensitive():
    a = quality.rolling_fingerprint("some document text here" * 10)
    b = quality.rolling_fingerprint("some document text here" * 10)
    assert a == b
    # min-of-rolling-windows is robust to a prefix change when the window
    # set still contains the minimizer
    assert quality.rolling_fingerprint("") == 0


def test_shingles_and_jaccard():
    a = "the quick brown fox jumps over the lazy dog"
    assert hashing.jaccard(a, a) == 1.0
    b = "the quick brown fox jumps over the lazy cat"
    assert 0.4 < hashing.jaccard(a, b) < 1.0
    assert hashing.jaccard("one two", "three four") == 0.0


def test_minhash_estimates_jaccard():
    a = " ".join(f"tok{i}" for i in range(100))
    b = " ".join(f"tok{i}" for i in range(50, 150))
    true_j = hashing.jaccard(a, b)
    sa = hashing.minhash_signature(a, num_perm=256)
    sb = hashing.minhash_signature(b, num_perm=256)
    est = sum(x == y for x, y in zip(sa, sb)) / 256
    assert abs(est - true_j) < 0.12


def test_minhash_bands_identical_for_identical_text():
    a = hashing.minhash_bands(hashing.minhash_signature("x y z w v u"))
    b = hashing.minhash_bands(hashing.minhash_signature("x y z w v u"))
    assert a == b and len(a) == 16


def test_simhash_similar_texts_close():
    a = " ".join(f"tok{i}" for i in range(100))
    b = a.replace("tok50", "changed")
    d_sim = hashing.hamming64(hashing.simhash(a), hashing.simhash(b))
    c = " ".join(f"other{i}" for i in range(100))
    d_diff = hashing.hamming64(hashing.simhash(a), hashing.simhash(c))
    assert d_sim < d_diff


def test_word_cache_skips_long_tokens():
    """Tokens over 64 characters are hashed but not cached (base64 runs
    and urls are near-unique and would fill the cache); the hash is the
    plain md5-derived value either way."""
    long_tok = "x" * 65
    hashing._WORD_CACHE.pop(long_tok, None)
    n = len(hashing._WORD_CACHE)
    assert hashing.word_hash64(long_tok) == hashing._hash64(long_tok)
    assert len(hashing._WORD_CACHE) == n
    short_tok = "y" * 64
    hashing._WORD_CACHE.pop(short_tok, None)
    assert hashing.word_hash64(short_tok) == hashing._hash64(short_tok)
    assert hashing._WORD_CACHE.get(short_tok) == hashing._hash64(short_tok)


def test_sha256_matches_stdlib():
    import hashlib as h
    assert hashing.sha256_hex("abc") == h.sha256(b"abc").hexdigest()


def test_sentence_split():
    s = segment.split_sentences("First one. Second here! Dr. Smith stayed. "
                                "Last")
    assert s[0] == "First one."
    assert s[1] == "Second here!"
    assert s[2] == "Dr. Smith stayed."  # abbreviation guard
    assert s[-1] == "Last"


def test_sentence_spans_offsets():
    text = "One here. Two there. Three."
    for start, end, kind, s in segment.sentence_spans(text):
        assert text[start:end] == s


def test_chunking_budget():
    sents = ["a b c", "d e", "f g h i j k"]
    chunks = segment.chunk_sentences(sents, max_tokens=6)
    assert chunks == ["a b c d e", "f g h i j k"]
    # hard split of an over-budget sentence
    chunks = segment.chunk_sentences(["one two three four five six"],
                                     max_tokens=4)
    assert chunks == ["one two three four", "five six"]


# --- H8: RTF strip ---------------------------------------------------------

def test_rtf_to_text_basic():
    from pubscience_spark.kernels import rtf
    doc = (r"{\rtf1\ansi{\fonttbl{\f0 Times New Roman;}}"
           r"{\colortbl;\red0\green0\blue0;}"
           r"\f0\fs24 Hello \b bold\b0  world.\par"
           r"Second\tab line with \'e9 accent and \u233?unicode.\par}")
    text = rtf.rtf_to_text(doc)
    assert "Hello bold world." in text
    assert "Times New Roman" not in text          # destination skipped
    assert "é accent" in text                 # \'e9 hex escape
    assert "éunicode" in text                 # \u233 with uc-skip
    # \par breaks the line; \tab collapses to a space in ws-normalization
    assert text.splitlines()[1].startswith("Second line")


def test_rtf_route_in_extractor():
    from pubscience_spark.operators.extract import detect_route, extract_one
    raw = rb"{\rtf1\ansi Plain rtf body.\par}"
    assert detect_route(raw) == "rtf"
    rec = extract_one(raw)
    assert rec["route"] == "rtf"
    assert rec["extracted_text"] == "Plain rtf body."
    assert rec["error"] is None


def test_hash_kernels_chunk_boundary_equivalence(monkeypatch):
    """Chunked shingle accumulation (bounded memory, ADVICE r1) must be
    bit-identical to single-pass for any chunk size."""
    from pubscience_spark.kernels import hashing as H
    text = " ".join(f"w{i % 211} tok{i % 97} x{i}" for i in range(400))
    sig_ref = H.minhash_signature(text)
    sim_ref = H.simhash(text)
    monkeypatch.setattr(H, "_SHINGLE_CHUNK", 7)
    assert H.minhash_signature(text) == sig_ref
    assert H.simhash(text) == sim_ref


def test_segment_stats_oracle_parity_general_text():
    """The promoted segment_stats DuckDB oracle (round 5) replays the
    boundary rule + greedy packing at the TOKEN level (boundary = token
    ending in a terminator followed by a capital-initial token, guard on
    that token alone) — exact vs the CPython kernels on adversarial
    English and under fuzz, not just on the fixture corpus."""
    import random

    import duckdb

    from pubscience_spark.kernels.segment import (chunk_sentences,
                                                  split_sentences)
    from pubscience_spark.queries import SQL_SEGMENT_STATS

    con = duckdb.connect()
    sql = SQL_SEGMENT_STATS.replace(
        "FROM documents", "FROM (SELECT 1 AS doc_id, ? AS text)")

    def oracle(t):
        r = con.execute(sql, [t]).fetchone()
        return (r[1], r[2])

    def kernel(t):
        s = split_sentences(t)
        return (len(s), len(chunk_sentences(s, 64)))

    cases = [
        "Hello world. This is fine! Done?",
        "Dr. Smith went home. OK then.",
        "Prof. X et al. Fig. 3 shows it. New sentence.",
        "word " * 200,
        ("A long opening sentence here. " * 10) + "Short tail.",
        "No terminators at all just words",
        "Ends mid",
        "Wait... Really? Yes!",
        "",
        "   ",
        "e.g. This merges. i.e. So does this. But not this one.",
        "A. B. C single letters. Real sentence here.",
        "Weird   spacing.   Next one!   Done.",
        "num 3. 4 digits. Also 9. Ok.",
        "(paren.) Next. Inner (x.) Y.",
        "\u00c9. Unicode single letter guard. Real one.",
        # Unicode whitespace: Python \\s is Unicode-aware, RE2's is
        # ASCII — the oracle's token class adds \\p{Z} etc. by hand
        "One sentence.\u00a0Next sentence here.",
        "Em\u2003space. Between!\u2029Para separator. End.",
        "tab\x1cseparated.\x85Next one.",
    ]
    for t in cases:
        assert oracle(t) == kernel(t), t
    rng = random.Random(3)
    words = ["foo", "Bar", "baz.", "Dr.", "e.g.", "X.", "qux!", "Wh?",
             "3", "al.", "No", "yes...", "(a.)", "B", "\u00e9."]
    for _ in range(300):
        t = " ".join(rng.choice(words)
                     for _ in range(rng.randrange(0, 40)))
        assert oracle(t) == kernel(t), t
    # every char Python considers whitespace, used as the boundary gap
    ws = [chr(c) for c in range(0x3001) if chr(c).isspace()]
    assert "\u00a0" in ws and len(ws) > 20
    for ch in ws:
        t = f"First one.{ch}Second sentence here."
        assert oracle(t) == kernel(t), hex(ord(ch))


def test_simhash_oracle_parity_brute_force():
    """The promoted simhash_neardup DuckDB oracle (round 6) rebuilds the
    64-bit keys from the kernel's own constants (md5 word hashes,
    _POS_MIX wraparound multiply in HUGEINT, per-bit majority) — exact
    vs kernels.hashing.simhash on adversarial texts and under fuzz, and
    its brute-forced pair set matches the kernel's."""
    import itertools
    import random

    import duckdb

    from pubscience_spark.kernels import hashing as H
    from pubscience_spark.queries import _simhash_neardup_oracle_sql

    con = duckdb.connect()
    sql = _simhash_neardup_oracle_sql()

    def signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    def run(texts):
        con.execute("CREATE OR REPLACE TEMP TABLE docs_t(doc_id BIGINT, "
                    "text VARCHAR)")
        con.executemany("INSERT INTO docs_t VALUES (?, ?)",
                        list(enumerate(texts)))
        got = sorted(tuple(r) for r in con.execute(
            sql.replace("FROM documents", "FROM docs_t")).fetchall())
        keys = {i: H.simhash(t) for i, t in enumerate(texts)}
        want = sorted(
            (a, b, H.hamming64(keys[a], keys[b]),
             signed(keys[a]), signed(keys[b]))
            for a, b in itertools.combinations(sorted(keys), 2)
            if H.hamming64(keys[a], keys[b]) <= 3)
        assert got == want

    base = "the quick brown fox jumps over the lazy dog " * 4
    run([
        base,
        base + "extra tail words here",
        "the quick brown fox jumps over a lazy dog " * 4,
        "",                      # empty → key 0
        "   \t\n ",              # whitespace-only → key 0
        "one",                   # < k words → joined-words hash
        "one two",
        "one two three",         # exactly k
        "ONE TWO THREE",         # case-folds to the same shingle
        "punct,uation! split2 3tokens",
        "é unicode is stripped by [a-z0-9]+",
    ])
    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "x9", "42", "word"]
    run([" ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 30)))
         for _ in range(40)])


def test_lsh_topk_oracle_parity_numpy():
    """The promoted lsh_topk DuckDB oracle (round 6) replays the sign-LSH
    algorithm with the operator's own blake2b plane constants — exact vs
    a numpy reimplementation (same matmul the pandas UDF runs) on
    synthetic embeddings, including the bucket strings themselves."""
    import duckdb
    import numpy as np

    from pubscience_spark.operators.similarity import _hyperplanes
    from pubscience_spark.queries import _lsh_topk_oracle_sql

    rng = np.random.default_rng(11)
    n, dim = 120, 64
    vecs = rng.standard_normal((n, dim))
    planes = _hyperplanes(dim, 6, seed=42)

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings(vec_id BIGINT, "
                "embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)",
                    [(i, [float(x) for x in vecs[i]]) for i in range(n)])
    got = sorted(tuple(r) for r in
                 con.execute(_lsh_topk_oracle_sql()).fetchall())

    bits = (vecs @ planes.T) > 0
    buckets = ["".join("1" if b else "0" for b in row) for row in bits]
    norms = np.sqrt((vecs * vecs).sum(axis=1))
    want = []
    for q in range(10):
        cands = [(float(vecs[q] @ vecs[c]) / float(norms[q] * norms[c]),
                  c) for c in range(n)
                 if c != q and buckets[c] == buckets[q]]
        cands.sort(key=lambda t: (-t[0], t[1]))
        for rank, (cos, c) in enumerate(cands[:5], 1):
            want.append((q, c, round(cos, 6), rank))
    assert got == sorted(want)
    assert len(got) > 0          # the fixture must exercise the join


def test_hash_embed_oracle_parity():
    """The promoted hash_embed_topk DuckDB oracle (round 6) rebuilds the
    md5-bucket BoW embedding — exact vs operators.embed.embed_text per
    component (the float32 values themselves), including empty and
    bucket-colliding inputs."""
    import duckdb

    from pubscience_spark.operators.embed import embed_text
    from pubscience_spark.queries import _hash_embed_topk_oracle_sql

    # pull just the vector-building CTEs out of the oracle
    sql = _hash_embed_topk_oracle_sql()
    head = sql[:sql.index("scored AS")]
    probe = head + ("x AS (SELECT vec_id, v FROM fv)\n"
                    "SELECT vec_id, v FROM x ORDER BY vec_id")

    texts = [
        "cardiac study results",
        "cardiac cardiac cardiac study",      # repeated word counts
        "the quick brown fox jumps over the lazy dog " * 3,
        "",                                   # zero vector stays zero
        "punct,uation! and 42 numbers 42",
        "é ünïcode words survive stripping",
        " ".join(f"w{i}" for i in range(300)),  # forces bucket collisions
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    list(enumerate(texts)))
    got = con.execute(probe).fetchall()
    assert len(got) == len(texts)
    for vid, vec in got:
        want = embed_text(texts[vid], 64)
        assert vec == want, (vid, vec[:4], want[:4])


def test_mint_ids_oracle_sha1_parity():
    """The promoted mint_ids DuckDB oracle (round 6) implements SHA-1
    from the FIPS 180 spec in SQL — fuzz-parity vs hashlib over random
    printable-ASCII messages up to the 55-byte single-block bound, plus
    the per-source row_number() minting semantics."""
    import hashlib
    import random
    import string

    import duckdb

    from pubscience_spark.queries import _mint_ids_oracle_sql

    rng = random.Random(13)
    sources = ["", "abc", "src_07", "a" * 54] + [
        "".join(rng.choice(string.printable[:95])
                for _ in range(rng.randrange(0, 55)))
        for _ in range(150)]
    # distinct source per row → row_number()-1 == 0 → message = src + '0'
    sources = list(dict.fromkeys(sources))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, source VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    list(enumerate(sources)))
    got = dict(con.execute(_mint_ids_oracle_sql()).fetchall())
    for i, src in enumerate(sources):
        want = hashlib.sha1((src + "0").encode()).hexdigest()
        assert got[i] == want, (src, got[i], want)
    # multi-row source: indices advance in doc_id order
    con.execute("CREATE OR REPLACE TABLE documents(doc_id BIGINT, "
                "source VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    [(i, "dup") for i in range(12)])
    got = dict(con.execute(_mint_ids_oracle_sql()).fetchall())
    for i in range(12):
        assert got[i] == hashlib.sha1(f"dup{i}".encode()).hexdigest()


def test_clean_sentences_oracle_parity_fold():
    """The promoted clean_sentences DuckDB oracle (round 6) replays the
    per-line C1-C3 clean + C4 stateful sentence fold as a list_reduce —
    exact vs kernels.textclean on multi-line adversarial inputs
    (accumulation across delimiter-free lines, trailing partial drop,
    digit masking, whitespace collapse, mojibake replaces)."""
    import random

    import duckdb

    from pubscience_spark.kernels.textclean import sentence_fold
    from pubscience_spark.queries import _clean_sentences_oracle_sql

    texts = [
        '{"k": 69}',
        "no delimiter line\nstill none\nfinally a dot. done",
        "acc builds\nacross lines;\nnext sentence starts\nhere too.",
        "trailing partial never flushes\nno delims anywhere",
        "",                         # split('\n') → [''] → no sentences
        "\n\n\n",                   # empty lines skipped
        "digits 123 mask. more 456;",
        "double  spaces   collapse. ok:",
        "Ã« mojibake fixed; plain.",
        "unicode  gap. fine;",   # \s{2,} is Unicode in Python
        "a.b.c many delims: yes; sure.",
        None,
    ]
    rng = random.Random(19)
    pieces = ["word", "x9", "end.", "mid;", "col:", "", "  ", "123"]
    for _ in range(60):
        texts.append("\n".join(" ".join(rng.choice(pieces)
                                        for _ in range(rng.randrange(0, 6)))
                               for _ in range(rng.randrange(0, 8))))

    con = duckdb.connect()
    con.execute("CREATE TABLE events(event_id BIGINT, props VARCHAR)")
    con.executemany("INSERT INTO events VALUES (?, ?)",
                    list(enumerate(texts)))
    got = {r[0]: (r[1], r[2]) for r in
           con.execute(_clean_sentences_oracle_sql()).fetchall()}
    for i, t in enumerate(texts):
        ss = sentence_fold(t.split("\n")) if t is not None else []
        if ss:
            assert got[i] == (len(ss), sum(len(s) for s in ss)), (i, t)
        else:
            assert i not in got, (i, t)


def test_translate_tagged_oracle_parity():
    """The promoted translate_tagged DuckDB oracle (round 6) derives the
    reassembled tag-translation length from per-sentence token/gap
    prefix sums + the segment chunk fold — exact vs the kernel's
    chunk_text reassembly on adversarial inputs (irregular whitespace,
    zero-gap docs, hard-split >64-token sentences) and under fuzz."""
    import random

    import duckdb

    from pubscience_spark.kernels.segment import chunk_text
    from pubscience_spark.queries import _translate_tagged_oracle_sql

    def want(t):
        chunks = chunk_text(t if t is not None else "", 64)
        return len(" ".join(f"[nl->en] {c}" for c in chunks))

    texts = [
        "Hello world. This is fine! Done?",
        "Dr. Smith went home. OK then.",
        "word " * 200,                      # hard split
        "a  b   c. Next  one   here.",     # irregular internal gaps
        "  leading ws. Tail here.",
        "No terminators at all just words",
        "", None, "   ", "one.",           # gapless single-token doc
        ("A long sentence " + "word " * 100 + "end. Short one here. ") * 2,
        "Wait... Really? Yes!",
        "e.g. This merges. i.e. So does this. But not this one.",
        "nbsp gap. Next sentence here.",   # NBSP: Python \s is Unicode
        "tab\ttab\t\ttabs. More text here.",
    ]
    rng = random.Random(23)
    words = ["foo", "Bar", "baz.", "Dr.", "e.g.", "X.", "qux!", "Wh?",
             "3", "al.", "No", "yes...", "B", "word"]
    for _ in range(120):
        texts.append((" " * rng.randrange(0, 3)).join(
            rng.choice(words) for _ in range(rng.randrange(0, 150))))

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    list(enumerate(texts)))
    got = dict(con.execute(_translate_tagged_oracle_sql()).fetchall())
    for i, t in enumerate(texts):
        assert got[str(i)] == want(t), (i, repr((t or "")[:60]))


def test_langid_top10_cc_separation():
    """Round 7 (VERDICT r6 #7): the profile table covers the top-10
    Common-Crawl languages; each sample sentence separates cleanly,
    incl. Cyrillic (word-class extension) and CJK (gram-only scoring:
    the clause-long token runs never hit stopwords)."""
    from pubscience_spark.kernels.langid import (_PROFILES,
                                                 detect_lang,
                                                 language_scores)
    samples = {
        "en": "The study found that patients with the disease were "
              "treated over time and the results showed improvement.",
        "nl": "De patiënt werd behandeld in het ziekenhuis en de "
              "resultaten van het onderzoek waren niet goed genoeg.",
        "de": "Der Patient wurde in der Klinik behandelt und die "
              "Ergebnisse der Untersuchung waren nicht gut genug.",
        "es": "El paciente fue tratado en el hospital y los resultados "
              "del estudio no fueron suficientes para una recomendación.",
        "fr": "Le patient a été traité dans l'hôpital et les résultats "
              "de l'étude ne sont pas suffisants pour une recommandation.",
        "it": "Il paziente è stato trattato nell'ospedale e i risultati "
              "dello studio non sono sufficienti per una raccomandazione.",
        "pt": "O paciente foi tratado no hospital e os resultados do "
              "estudo não foram suficientes para uma recomendação clara.",
        "ru": "Пациент лечился в больнице и результаты исследования "
              "были недостаточны для ясной рекомендации врачей.",
        "ja": "患者は病院で治療を受けましたが、研究の結果は明確な推奨の"
              "ために十分ではありませんでした。これは重要なことです。",
        "zh": "病人在医院接受了治疗，但是研究的结果不足以提供一个明确的"
              "建议。这是一个重要的问题，需要更多的数据。",
    }
    assert set(samples) == set(_PROFILES)
    # profile-data hygiene: no duplicated grams (a dup double-weights
    # one signal and silently loses a discriminator — round-7 review
    # caught "ого" listed twice for ru), and grams actually lowercase
    for lang, (stop, grams) in _PROFILES.items():
        assert len(set(grams)) == len(grams), lang
        assert all(g == g.lower() for g in grams), lang
    for lang, text in samples.items():
        assert detect_lang(text) == lang, (lang, language_scores(text))
        # separation, not just argmax: the margin rule holds
        sc = sorted(language_scores(text).values(), reverse=True)
        assert sc[0] >= 0.08 and sc[0] - sc[1] >= 1e-9
    assert detect_lang("") == "unknown"
    assert detect_lang("zzz qqq xxx 123") == "unknown"
