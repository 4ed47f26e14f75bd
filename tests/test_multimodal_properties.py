"""Hypothesis property tests for the extraction and text kernels."""

from hypothesis import given, settings
from hypothesis import strategies as st


# --------------------------------------------------------------------------
# hypothesis property tests (pure kernels — no Spark session needed)
# --------------------------------------------------------------------------

TEXT = st.text(max_size=400)


@settings(max_examples=60, deadline=None)
@given(TEXT)
def test_extract_one_total_on_arbitrary_bytes(s):
    """The extraction kernel never throws and always yields a sha256."""
    from pubscience_spark.operators.extract import extract_one
    rec = extract_one(s.encode("utf-8", "surrogatepass"))
    assert isinstance(rec["extracted_text"], str)
    assert len(rec["sha256"]) == 64


@settings(max_examples=60, deadline=None)
@given(TEXT)
def test_clean_markdown_idempotent(s):
    from pubscience_spark.kernels.textclean import clean_markdown
    once = clean_markdown(s)
    assert clean_markdown(once) == once


@settings(max_examples=60, deadline=None)
@given(TEXT)
def test_prefix_dedup_key_properties(s):
    from pubscience_spark.kernels.textclean import prefix_dedup_key
    k = prefix_dedup_key(s)
    assert len(k) <= 500 and k == k.lower()
    assert all(c.isascii() and c.isalnum() for c in k)
    # stable under suffix growth past the window
    assert prefix_dedup_key(s[:500] + "EXTRA TAIL" * 80) \
        == prefix_dedup_key(s[:500] + "different tail" * 80) \
        or len(prefix_dedup_key(s[:500])) < 500


@settings(max_examples=60, deadline=None)
@given(TEXT)
def test_sentences_cover_content(s):
    """Sentence split loses only whitespace; chunking loses no words."""
    from pubscience_spark.kernels.segment import chunk_text, split_sentences
    joined_words = " ".join(" ".join(split_sentences(s)).split())
    original_words = " ".join(s.split())
    assert joined_words == original_words
    chunk_words = " ".join(" ".join(chunk_text(s, 16)).split())
    assert chunk_words == original_words


@settings(max_examples=60, deadline=None)
@given(TEXT, TEXT)
def test_jaccard_symmetric_bounded(a, b):
    from pubscience_spark.kernels.hashing import jaccard
    j = jaccard(a, b)
    assert 0.0 <= j <= 1.0
    assert j == jaccard(b, a)
    assert jaccard(a, a) == 1.0


@settings(max_examples=40, deadline=None)
@given(TEXT)
def test_minhash_signature_stable_and_bounded(s):
    from pubscience_spark.kernels.hashing import minhash_signature
    sig = minhash_signature(s, num_perm=32)
    assert len(sig) == 32
    assert sig == minhash_signature(s, num_perm=32)
    assert all(0 <= v < (1 << 32) for v in sig)
