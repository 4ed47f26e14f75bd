"""Text analysis kernels: quality scoring, token counting, fingerprinting.

Part of the large-scale training-data tier (task spec): deterministic,
SQL-expressible where possible so the DuckDB oracle can verify them. The
word-count convention follows the reference's ``len(t.split())``
(``retrieve/OAI/parse_pdfs.py:359``) and ``re.findall(r'\\S+', text)``
(``retrieve/pubmed/parse_fulltext.py:47``).
"""

from __future__ import annotations

import re

_RE_TOKEN = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
_RE_WORD = re.compile(r"\S+")
_RE_PUNCT = re.compile(r"[^\w\s]")

STOPWORDS_EN = frozenset("""the and of to in is that it for on with as are
    was this be at by an have from or not but what all were when there can
    which their has will each about how""".split())


def token_count(text: str) -> int:
    """BPE-ish pre-tokenizer count: letter runs, digit runs, single punct."""
    return len(_RE_TOKEN.findall(text))


def quality_features(text: str) -> dict:
    n_chars = len(text)
    words = _RE_WORD.findall(text)
    n_words = len(words)
    n_punct = len(_RE_PUNCT.findall(text))
    lowered = [w.lower().strip(".,;:!?\"'()") for w in words]
    n_stop = sum(1 for w in lowered if w in STOPWORDS_EN)
    mean_word_len = (sum(len(w) for w in words) / n_words) if n_words else 0.0
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "n_tokens": token_count(text),
        "punct_ratio": (n_punct / n_chars) if n_chars else 0.0,
        "stopword_ratio": (n_stop / n_words) if n_words else 0.0,
        "mean_word_len": mean_word_len,
    }


def quality_score(text: str) -> float:
    """[0,1] heuristic: length + stopword presence − punctuation excess."""
    f = quality_features(text)
    length_term = min(f["n_words"] / 100.0, 1.0)
    stop_term = min(f["stopword_ratio"] / 0.3, 1.0)
    punct_pen = max(0.0, f["punct_ratio"] - 0.1) * 2.0
    return max(0.0, min(1.0, 0.5 * length_term + 0.5 * stop_term - punct_pen))


_FP_BASE = 257
_FP_MOD = (1 << 61) - 1


def rolling_fingerprint(text: str, window: int = 64) -> int:
    """Deterministic document fingerprint: min of rolling polynomial hashes
    over byte windows (Rabin-Karp style); whole-text hash when shorter."""
    data = text.encode("utf-8", "surrogatepass")
    n = len(data)
    if n == 0:
        return 0
    if n <= window:
        h = 0
        for b in data:
            h = (h * _FP_BASE + b) % _FP_MOD
        return h
    pw = pow(_FP_BASE, window - 1, _FP_MOD)
    h = 0
    for b in data[:window]:
        h = (h * _FP_BASE + b) % _FP_MOD
    best = h
    for i in range(window, n):
        h = ((h - data[i - window] * pw) * _FP_BASE + data[i]) % _FP_MOD
        if h < best:
            best = h
    return best
