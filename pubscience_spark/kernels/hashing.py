"""Dedup hashing kernels: shingles, MinHash, SimHash, n-gram Jaccard.

The reference specifies MinHash near-dup but never implements it
(``README.md:89-93``; unused fuzzy imports ``deduplicate/deduplicater.py:6``);
exact sha256 dedup is X1 (``deduplicate/deduplicater.py:47-60``). These are
from-scratch deterministic implementations sized for LSH band-bucketing at
cluster scale (shingle → minhash → band → bucket-join, per the task spec).

All hashing is seeded md5/blake2b — stable across Python processes
(unlike ``hash()``), so executors agree without PYTHONHASHSEED pinning.
"""

from __future__ import annotations

import hashlib
import re
import struct

import numpy as np

_RE_WORD = re.compile(r"[a-z0-9]+")


def normalize_words(text: str) -> list[str]:
    return _RE_WORD.findall(text.lower())


def word_shingles(text: str, k: int = 3) -> set[str]:
    words = normalize_words(text)
    if len(words) < k:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def _hash64(s: str) -> int:
    return struct.unpack("<Q", hashlib.md5(s.encode("utf-8")).digest()[:8])[0]


# Cross-document word-hash cache. Word frequency is Zipfian, so the md5
# per DISTINCT WORD dominates the shingle/embed kernels once per-doc
# caching is in place (round-8 profile: ~85% of minhash_signature wall
# was hashlib calls); a module-level cache amortizes it across every
# document a reused Python worker processes (guide §4.5 — this module
# is importable on executors, so globals survive task boundaries when
# spark.python.worker.reuse is on). Values are pure md5 — the cache
# cannot change any hash, only skip recomputing it. Capacity-capped:
# on overflow new words are hashed without being cached (first-come
# residency is fine for Zipf — the common words arrive early). Tokens
# longer than _WORD_CACHE_KEY_MAX (base64 blobs, urls, garbage runs) are
# hashed but never cached: they are almost always unique, and caching
# them would let a few documents fill the cache with megabytes of keys.
_WORD_CACHE: dict[str, int] = {}
_WORD_CACHE_MAX = 1 << 19  # ~0.5M words ≈ ≤100 MB per Python worker
_WORD_CACHE_KEY_MAX = 64


def word_hash64(w: str) -> int:
    h = _WORD_CACHE.get(w)
    if h is None:
        h = _hash64(w)
        if (len(w) <= _WORD_CACHE_KEY_MAX
                and len(_WORD_CACHE) < _WORD_CACHE_MAX):
            _WORD_CACHE[w] = h
    return h


def _perm_params(num_perm: int, seed: int = 42):
    """Deterministic (a, b) arrays for multiply-shift universal hashing
    h(x) = ((a*x + b) mod 2^64) >> 32 with odd a (Dietzfelbinger et al.) —
    pure uint64 arithmetic, so the whole signature vectorizes in numpy."""
    a = np.empty(num_perm, dtype=np.uint64)
    b = np.empty(num_perm, dtype=np.uint64)
    for i in range(num_perm):
        d = hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=16).digest()
        a[i] = struct.unpack("<Q", d[:8])[0] | 1
        b[i] = struct.unpack("<Q", d[8:])[0]
    return a, b


_PERM_CACHE: dict = {}


# Shingles are processed in fixed-size chunks: a (num_perm × n_shingles)
# matrix for a ~1M-distinct-shingle document would peak at ~1 GB inside a
# pandas-UDF worker; chunked np.minimum accumulation keeps the peak at
# num_perm × CHUNK (~64 MB) while staying fully vectorized.
_SHINGLE_CHUNK = 65536


def minhash_signature(text: str, num_perm: int = 128, k: int = 3,
                      seed: int = 42) -> list[int]:
    key = (num_perm, seed)
    params = _PERM_CACHE.get(key)
    if params is None:
        params = _PERM_CACHE[key] = _perm_params(num_perm, seed)
    a, b = params
    base = _shingle_hashes(text, k)
    if base is None:
        return [0] * num_perm
    mins = np.full(num_perm, np.iinfo(np.uint64).max, dtype=np.uint64)
    with np.errstate(over="ignore"):  # mod-2^64 wraparound is the hash
        for i in range(0, len(base), _SHINGLE_CHUNK):
            chunk = base[i:i + _SHINGLE_CHUNK]
            h = (a[:, None] * chunk[None, :] + b[:, None]) >> np.uint64(32)
            np.minimum(mins, h.min(axis=1), out=mins)
    return mins.tolist()


# odd mix constants per band row position (blake2b-derived, seed-stable)
_BAND_MIX = np.array([
    struct.unpack("<Q", hashlib.blake2b(f"band:{j}".encode(),
                                        digest_size=8).digest())[0] | 1
    for j in range(256)], dtype=np.uint64)


# odd mix constants per shingle position (blake2b-derived, seed-stable)
_POS_MIX = np.array([
    struct.unpack("<Q", hashlib.blake2b(f"pos:{j}".encode(),
                                        digest_size=8).digest())[0] | 1
    for j in range(16)], dtype=np.uint64)


def _shingle_hashes(text: str, k: int = 3) -> "np.ndarray | None":
    """uint64 hash per *distinct* word-k-shingle. md5 runs once per distinct
    word; shingle hashes are a vectorized positional mix of word hashes
    (duplicates collapsed — set semantics, matching ``word_shingles``)."""
    words = normalize_words(text)
    if not words:
        return None
    if len(words) < k:
        return np.array([_hash64(" ".join(words))], dtype=np.uint64)
    wh = np.fromiter((word_hash64(w) for w in words),
                     dtype=np.uint64, count=len(words))
    n = len(words) - k + 1
    with np.errstate(over="ignore"):
        h = np.zeros(n, dtype=np.uint64)
        for j in range(k):
            h += wh[j:j + n] * _POS_MIX[j]
    return np.unique(h)


def minhash_bands(signature: list[int], bands: int = 16) -> list[str]:
    """LSH band keys: 'band_idx:hash(rows)' — equal key ⇒ candidate pair.

    Round 8: the per-band md5 over a formatted decimal string (~3 string
    builds + a hashlib call per band per doc) is replaced with one
    vectorized uint64 linear mix over the whole signature — odd
    blake2b-derived multipliers make each band's map injective per row
    position, so two different chunks collide only with ~2⁻⁶⁴ odds
    (same regime as the md5 truncation it replaced), and the band index
    stays in the key prefix so cross-band collisions remain impossible.
    Collisions only ever ADD candidate pairs, which downstream exact
    verification discards — the key function is internal plumbing, not
    part of any frozen contract."""
    sig = np.asarray(signature, dtype=np.uint64)
    rows = len(sig) // bands
    if rows > len(_BAND_MIX):
        raise ValueError(f"minhash_bands: {rows} rows/band exceeds the "
                         f"{len(_BAND_MIX)} mix constants")
    chunks = sig[:bands * rows].reshape(bands, rows)
    with np.errstate(over="ignore"):
        mixed = (chunks * _BAND_MIX[:rows][None, :]).sum(
            axis=1, dtype=np.uint64)
    return [f"{b}:{v:016x}" for b, v in enumerate(mixed.tolist())]


# Names the key format :func:`minhash_bands` emits. Persistent band
# indexes carry it as a column, so an index written with another format
# (e.g. the md5 band keys before round 8) is refused instead of silently
# matching nothing. Change it whenever the band key format changes.
BAND_FMT = "u64mix"


_BITS64 = np.arange(64, dtype=np.uint64)


def simhash(text: str, k: int = 3) -> int:
    """64-bit SimHash over word shingles (majority vote per bit,
    vectorized; bit-identical to the scalar definition). Per-bit counts
    accumulate over shingle chunks — bounded peak memory like
    :func:`minhash_signature`."""
    hs = _shingle_hashes(text, k)
    if hs is None:
        return 0
    ones = np.zeros(64, dtype=np.int64)
    for i in range(0, len(hs), _SHINGLE_CHUNK):
        chunk = hs[i:i + _SHINGLE_CHUNK]
        ones += ((chunk[:, None] >> _BITS64[None, :])
                 & np.uint64(1)).sum(axis=0).astype(np.int64)
    # weight_bit = ones - zeros > 0  ⇔  2*ones > n
    mask = (2 * ones) > len(hs)
    return int(np.sum((np.uint64(1) << _BITS64)[mask], dtype=np.uint64))


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def jaccard(text_a: str, text_b: str, k: int = 3) -> float:
    sa, sb = word_shingles(text_a, k), word_shingles(text_b, k)
    if not sa and not sb:
        return 1.0
    union = len(sa | sb)
    return (len(sa & sb) / union) if union else 0.0


def sha256_hex(text: str) -> str:
    """X1 exact-dedup key (deduplicate/deduplicater.py:107-111)."""
    return hashlib.sha256(text.encode("utf-8")).hexdigest()
