"""JPEG 2000 Part 1 (ISO/IEC 15444-1 / ITU-T T.800) decoder and mirror
encoder — the PDF ``JPXDecode`` filter and the last common scanned-
document codec missing from the media tier (VERDICT r6 #3: "JPX ... the
most real-world-relevant residue" among the scanned-page filters).

From the PUBLIC specification only (ITU-T T.800 08/2002). The arithmetic
entropy coder is the MQ coder of T.800 Annex C (the same coder and Qe
table as JBIG2's T.88 Annex E); it lives in this module, with its
mirror encoder.

Supported tier (everything else is a NAMED error, never wrong pixels):

- JP2 container (jp2h/ihdr/colr walk) and raw codestreams (SOC-first);
- SIZ: single tile covering the image grid, 1-4 components, no
  subsampling (XRsiz=YRsiz=1), 1-16 bpc, signed or unsigned;
- COD/COC: all five progression orders, multiple layers, 0-32
  decomposition levels, code-blocks 4x4..64x64 (area <= 4096),
  maximal (default) precincts, SOP/EPH marker segments, the 5/3
  reversible and 9/7 irreversible wavelets, RCT/ICT multi-component
  transforms, code-block style 0 plus the segmentation-symbol bit;
- QCD/QCC: no-quantization (reversible), scalar-derived and
  scalar-expounded; mid-point reconstruction for truncated planes;
- tier-2: tag-tree inclusion / zero-bitplane decoding, Lblock length
  codes, bit-stuffed headers, multiple tile-parts, empty packets;
- tier-1: full three-pass EBCOT (significance propagation, magnitude
  refinement, cleanup with run-length mode) over one MQ codeword
  segment per code-block.

Named-error residue: multiple tiles, subsampled components, user
precincts, code-block style bits (bypass/reset/termall/causal/
predictable termination), PPM/PPT packed headers, RGN (ROI) shifts,
unknown wavelets/progressions. The mirror encoder (spec-built test
streams, one layer, style 0) exists so round-trip tests pin the
DECODER to the spec without any third-party codec installed.
"""
from __future__ import annotations

import math
import struct

import numpy as np


class Jp2Error(Exception):
    pass


# ---------------------------------------------------------------------------
# MQ coder state table — T.800 Table C.2 == T.88 Table E.1
# (Qe, NMPS, NLPS, SWITCH)
# ---------------------------------------------------------------------------

QE_TABLE: list[tuple[int, int, int, int]] = [
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
]


class MQDecoder:
    """T.88 E.3 arithmetic decoder. Context state lives OUTSIDE the
    coder (a ``bytearray`` of packed ``index*2 + mps``), one slot per
    context label, as the spec's per-procedure context sets require.
    Reads past the end of data behave as 0xFF (marker semantics)."""

    def __init__(self, data: bytes):
        self._d = data
        self._bp = 0
        self._c = (self._byte(0) << 16) & 0xFFFFFFFF
        self._ct = 0
        self._bytein()
        self._c = (self._c << 7) & 0xFFFFFFFF
        self._ct -= 7
        self._a = 0x8000

    def _byte(self, i: int) -> int:
        return self._d[i] if i < len(self._d) else 0xFF

    def _bytein(self) -> None:
        if self._byte(self._bp) == 0xFF:
            if self._byte(self._bp + 1) > 0x8F:
                self._c = (self._c + 0xFF00) & 0xFFFFFFFF
                self._ct = 8
            else:
                self._bp += 1
                self._c = (self._c + (self._byte(self._bp) << 9)) \
                    & 0xFFFFFFFF
                self._ct = 7
        else:
            self._bp += 1
            self._c = (self._c + (self._byte(self._bp) << 8)) \
                & 0xFFFFFFFF
            self._ct = 8

    def decode(self, cx: bytearray, label: int) -> int:
        state = cx[label]
        i, mps = state >> 1, state & 1
        qe, nmps, nlps, switch = QE_TABLE[i]
        self._a -= qe
        if ((self._c >> 16) & 0xFFFF) < qe:
            # LPS path (with conditional exchange)
            if self._a < qe:
                d = mps
                cx[label] = (nmps << 1) | mps
            else:
                d = 1 - mps
                if switch:
                    mps = 1 - mps
                cx[label] = (nlps << 1) | mps
            self._a = qe
        else:
            self._c = (self._c - (qe << 16)) & 0xFFFFFFFF
            if self._a & 0x8000:
                return mps
            if self._a < qe:
                d = 1 - mps
                if switch:
                    mps = 1 - mps
                cx[label] = (nlps << 1) | mps
            else:
                d = mps
                cx[label] = (nmps << 1) | mps
        while True:                                # RENORMD
            if self._ct == 0:
                self._bytein()
            self._a = (self._a << 1) & 0xFFFF
            self._c = (self._c << 1) & 0xFFFFFFFF
            self._ct -= 1
            if self._a & 0x8000:
                break
        return d


class MQEncoder:
    """T.88 E.2 arithmetic encoder (for spec-built test streams)."""

    def __init__(self):
        self._a = 0x8000
        self._c = 0
        self._ct = 12
        self._b: list[int] = []                    # emitted bytes
        self._first = True                         # no B yet

    def _byteout(self) -> None:
        if not self._first and self._b and self._b[-1] == 0xFF:
            self._b.append((self._c >> 20) & 0xFF)
            self._c &= 0xFFFFF
            self._ct = 7
        else:
            if self._c < 0x8000000:
                self._b.append((self._c >> 19) & 0xFF)
                self._c &= 0x7FFFF
                self._ct = 8
            else:
                if self._first:
                    # carry with no prior byte: emit the carried byte
                    self._b.append(1)
                else:
                    self._b[-1] += 1
                self._c &= 0x7FFFFFF           # carry bit consumed
                if self._b[-1] == 0xFF:
                    self._b.append((self._c >> 20) & 0xFF)
                    self._c &= 0xFFFFF
                    self._ct = 7
                else:
                    self._b.append((self._c >> 19) & 0xFF)
                    self._c &= 0x7FFFF
                    self._ct = 8
        self._first = False

    def encode(self, cx: bytearray, label: int, d: int) -> None:
        state = cx[label]
        i, mps = state >> 1, state & 1
        qe, nmps, nlps, switch = QE_TABLE[i]
        if d == mps:                               # CODEMPS
            self._a -= qe
            if self._a & 0x8000:
                self._c += qe
                return
            if self._a < qe:
                self._a = qe
            else:
                self._c += qe
            cx[label] = (nmps << 1) | mps
        else:                                      # CODELPS
            self._a -= qe
            if self._a < qe:
                self._c += qe
            else:
                self._a = qe
            if switch:
                mps = 1 - mps
            cx[label] = (nlps << 1) | mps
        while True:                                # RENORME
            self._a = (self._a << 1) & 0xFFFF
            self._c = (self._c << 1) & 0xFFFFFFFF
            self._ct -= 1
            if self._ct == 0:
                self._byteout()
            if self._a & 0x8000:
                break

    def flush(self) -> bytes:
        # SETBITS: push the low code bits to all-ones within the final
        # interval [C, C+A) so the tail decodes as 1-fill, backing off
        # 0x8000 if that overshoots the interval (T.88 E.4.2)
        temp = self._c + self._a
        self._c |= 0xFFFF
        if self._c >= temp:
            self._c -= 0x8000
        self._c = (self._c << self._ct) & 0xFFFFFFFF
        self._byteout()
        self._c = (self._c << self._ct) & 0xFFFFFFFF
        self._byteout()
        # trailing 0xFF bytes are marker-equivalent; keep them (the
        # decoder's past-the-end reads return 0xFF anyway)
        return bytes(self._b)


# ---------------------------------------------------------------------------
# packet-header bit IO (B.10.1): MSB-first with 0xFF bit-stuffing — a
# byte of 0xFF is followed by a byte whose MSB is a stuffed 0
# ---------------------------------------------------------------------------

class _HdrReader:
    def __init__(self, data: bytes, pos: int = 0):
        self._d = data
        self._pos = pos
        self._bits = 0
        self._byte = 0
        self._prev_ff = False

    def bit(self) -> int:
        if self._bits == 0:
            if self._pos >= len(self._d):
                raise Jp2Error("jp2-header-truncated")
            self._byte = self._d[self._pos]
            self._pos += 1
            self._bits = 7 if self._prev_ff else 8
            self._prev_ff = self._byte == 0xFF
        self._bits -= 1
        return (self._byte >> self._bits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> int:
        """Byte-align (end of packet header) and return the position.
        A header cannot END on an unconsumed stuffed bit: if the last
        consumed byte was 0xFF the stuffed byte belongs to the header."""
        if self._prev_ff:
            if self._pos >= len(self._d):
                raise Jp2Error("jp2-header-truncated")
            self._pos += 1
        self._bits = 0
        self._prev_ff = False
        return self._pos


class _HdrWriter:
    def __init__(self):
        self._out = bytearray()
        self._byte = 0
        self._bits = 0

    def bit(self, b: int) -> None:
        self._byte = (self._byte << 1) | (b & 1)
        self._bits += 1
        limit = 7 if self._out and self._out[-1] == 0xFF else 8
        if self._bits == limit:
            self._out.append(self._byte)
            self._byte = 0
            self._bits = 0

    def bits(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bit((v >> i) & 1)

    def done(self) -> bytes:
        if self._bits or (self._out and self._out[-1] == 0xFF):
            limit = 7 if self._out and self._out[-1] == 0xFF else 8
            self._byte <<= (limit - self._bits)
            self._out.append(self._byte)
            self._byte = 0
            self._bits = 0
        return bytes(self._out)


# ---------------------------------------------------------------------------
# tag trees (B.10.2)
# ---------------------------------------------------------------------------

class TagTree:
    """Quad-tree over a w x h leaf grid; decode/encode answer the
    question "is leaf value <= threshold-1" incrementally."""

    def __init__(self, w: int, h: int):
        self.levels: list[tuple[int, int]] = []
        while True:
            self.levels.append((w, h))
            if w == 1 and h == 1:
                break
            w, h = (w + 1) // 2, (h + 1) // 2
        self.levels.reverse()                      # root first
        self.value = [np.zeros((h, w), dtype=np.int32)
                      for (w, h) in self.levels]
        self.low = [np.zeros((h, w), dtype=np.int32)
                    for (w, h) in self.levels]
        self.known = [np.zeros((h, w), dtype=bool)
                      for (w, h) in self.levels]

    def _path(self, x: int, y: int):
        n = len(self.levels)
        return [(lvl, x >> (n - 1 - lvl), y >> (n - 1 - lvl))
                for lvl in range(n)]

    def decode(self, rd: _HdrReader, x: int, y: int,
               threshold: int) -> bool:
        """True iff leaf (x, y) value < threshold, consuming bits."""
        lo = 0
        for (lvl, xx, yy) in self._path(x, y):
            lo = max(lo, int(self.low[lvl][yy, xx]))
            while True:
                if self.known[lvl][yy, xx]:
                    v = int(self.value[lvl][yy, xx])
                    if v < threshold:
                        lo = max(lo, v)
                        break
                    return False
                else:
                    if lo >= threshold:
                        self.low[lvl][yy, xx] = lo
                        return False
                    if rd.bit():
                        self.known[lvl][yy, xx] = True
                        self.value[lvl][yy, xx] = lo
                    else:
                        lo += 1
                        self.low[lvl][yy, xx] = lo
        return True

    def encode(self, wr: _HdrWriter, x: int, y: int, value: int,
               threshold: int, leaf_values) -> None:
        """Emit the bits :meth:`decode` will consume for this leaf at
        this threshold. ``leaf_values[y][x]`` must hold every leaf so
        internal minima are computable."""
        n = len(self.levels)
        if not self.known[-1][0, 0] and not hasattr(self, "_mins"):
            self._mins = [None] * n
            arr = np.asarray(leaf_values, dtype=np.int64)
            self._mins[n - 1] = arr
            for lvl in range(n - 2, -1, -1):
                src = self._mins[lvl + 1]
                h, w = self.levels[lvl][1], self.levels[lvl][0]
                dst = np.full((h, w), 2 ** 62, dtype=np.int64)
                for yy in range(src.shape[0]):
                    for xx in range(src.shape[1]):
                        dst[yy // 2, xx // 2] = min(
                            dst[yy // 2, xx // 2], src[yy, xx])
                self._mins[lvl] = dst
        lo = 0
        for (lvl, xx, yy) in self._path(x, y):
            lo = max(lo, int(self.low[lvl][yy, xx]))
            node_v = int(self._mins[lvl][yy, xx])
            while True:
                if self.known[lvl][yy, xx]:
                    if int(self.value[lvl][yy, xx]) < threshold:
                        lo = max(lo, int(self.value[lvl][yy, xx]))
                        break
                    return
                if lo >= threshold:
                    self.low[lvl][yy, xx] = lo
                    return
                if lo == node_v:
                    wr.bit(1)
                    self.known[lvl][yy, xx] = True
                    self.value[lvl][yy, xx] = lo
                else:
                    wr.bit(0)
                    lo += 1
                    self.low[lvl][yy, xx] = lo


# ---------------------------------------------------------------------------
# wavelets (Annex F): 5/3 reversible (int lifting) and 9/7 irreversible
# ---------------------------------------------------------------------------

_A97 = -1.586134342059924
_B97 = -0.052980118572961
_G97 = 0.882911075530934
_D97 = 0.443506852043971
_K97 = 1.230174104914001


def _syn53(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """1D inverse 5/3 along axis 0 (even = low, odd = high), with the
    whole-sample symmetric extension of the interleaved signal
    (origin 0), fully vectorized."""
    nl, nh = lo.shape[0], hi.shape[0]
    n = nl + nh
    if n == 1:
        return (lo.astype(np.int64).copy() if nl
                else hi.astype(np.int64).copy())
    lo = lo.astype(np.int64)
    hi = hi.astype(np.int64)
    x = np.zeros((n,) + lo.shape[1:], dtype=np.int64)
    # even: x[2i] = lo[i] - floor((y[2i-1] + y[2i+1] + 2) / 4)
    a = np.concatenate([hi[:1], hi])[:nl]          # y[-1] -> y[1]
    b = hi if nl == nh else np.concatenate([hi, hi[-1:]])[:nl]
    x[0::2] = lo - ((a + b + 2) >> 2)
    # odd: x[2i+1] = hi[i] + floor((x[2i] + x[2i+2]) / 2)
    ev = x[0::2]
    c = ev[:nh]
    d = ev[1:nh + 1] if nl > nh \
        else np.concatenate([ev[1:], ev[-1:]])     # x[n] -> x[n-2]
    x[1::2] = hi + ((c + d) >> 1)
    return x


def _ana53(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """1D forward 5/3 along axis 0 → (low, high), vectorized mirror of
    :func:`_syn53`."""
    n = x.shape[0]
    x = x.astype(np.int64)
    if n == 1:
        return x.copy(), x[:0]
    nh, nl = n // 2, n - n // 2
    ev, od = x[0::2], x[1::2]
    a = ev[:nh]
    b = ev[1:nh + 1] if nl > nh \
        else np.concatenate([ev[1:], ev[-1:]])
    hi = od - ((a + b) >> 1)
    c = np.concatenate([hi[:1], hi])[:nl]
    d = hi if nl == nh else np.concatenate([hi, hi[-1:]])[:nl]
    lo = ev + ((c + d + 2) >> 2)
    return lo, hi


def _sym(idx: int, n: int) -> int:
    """Whole-sample symmetric extension index."""
    if n == 1:
        return 0
    period = 2 * (n - 1)
    idx %= period
    return idx if idx < n else period - idx


def _syn97(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """1D inverse 9/7 along axis 0 (floats)."""
    n = lo.shape[0] + hi.shape[0]
    if n == 1:
        return (lo.copy() if lo.shape[0] else hi.copy())
    y = np.zeros((n,) + lo.shape[1:], dtype=np.float64)
    y[0::2] = lo * (1.0 / _K97)
    y[1::2] = hi * _K97

    def ext(i):
        return y[_sym(i, n)]
    # undo lifting: delta on even, gamma on odd, beta on even, alpha odd
    for i in range(0, n, 2):
        y[i] = y[i] - _D97 * (ext(i - 1) + ext(i + 1))
    for i in range(1, n, 2):
        y[i] = y[i] - _G97 * (ext(i - 1) + ext(i + 1))
    for i in range(0, n, 2):
        y[i] = y[i] - _B97 * (ext(i - 1) + ext(i + 1))
    for i in range(1, n, 2):
        y[i] = y[i] - _A97 * (ext(i - 1) + ext(i + 1))
    return y


def _ana97(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """1D forward 9/7 along axis 0 → (low, high), floats."""
    n = x.shape[0]
    y = x.astype(np.float64).copy()
    if n == 1:
        return y, y[:0]

    def ext(i):
        return y[_sym(i, n)]
    for i in range(1, n, 2):
        y[i] = y[i] + _A97 * (ext(i - 1) + ext(i + 1))
    for i in range(0, n, 2):
        y[i] = y[i] + _B97 * (ext(i - 1) + ext(i + 1))
    for i in range(1, n, 2):
        y[i] = y[i] + _G97 * (ext(i - 1) + ext(i + 1))
    for i in range(0, n, 2):
        y[i] = y[i] + _D97 * (ext(i - 1) + ext(i + 1))
    return y[0::2] * _K97, y[1::2] * (1.0 / _K97)


def _idwt2(ll: np.ndarray, hl: np.ndarray, lh: np.ndarray,
           hh: np.ndarray, reversible: bool) -> np.ndarray:
    """One 2D synthesis level: columns then rows (mirror of
    :func:`_fdwt2`)."""
    syn = _syn53 if reversible else _syn97
    # vertical: (ll over lh) and (hl over hh)
    left = syn(ll, lh)
    right = syn(hl, hh)
    # horizontal: transpose trick
    out = syn(left.swapaxes(0, 1), right.swapaxes(0, 1))
    return out.swapaxes(0, 1)


def _fdwt2(x: np.ndarray, reversible: bool
           ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    ana = _ana53 if reversible else _ana97
    lo, hi = ana(x.swapaxes(0, 1))                 # horizontal first
    lo, hi = lo.swapaxes(0, 1), hi.swapaxes(0, 1)
    ll, lh = ana(lo)
    hl, hh = ana(hi)
    return ll, hl, lh, hh

# ---------------------------------------------------------------------------
# tier-1: EBCOT code-block coding (Annex D) over the shared MQ coder
# ---------------------------------------------------------------------------

# context labels: 0-8 zero coding, 9-13 sign, 14-16 magnitude
# refinement, 17 run-length, 18 uniform
_CTX_RL = 17
_CTX_UNI = 18
_N_CTX = 19

# orientations
_ORI_LL, _ORI_HL, _ORI_LH, _ORI_HH = 0, 1, 2, 3


def _t1_init_cx() -> bytearray:
    """Initial context states (Table D.7): all (0, MPS 0) except ZC
    context 0 -> state 4, run-length -> 3, uniform -> 46."""
    cx = bytearray(_N_CTX)
    cx[0] = 4 << 1
    cx[_CTX_RL] = 3 << 1
    cx[_CTX_UNI] = 46 << 1
    return cx


def _zc_ctx(ori: int, hn: int, vn: int, dn: int) -> int:
    """Zero-coding context (Table D.1)."""
    if ori == _ORI_HL:                             # swap H and V
        hn, vn = vn, hn
    if ori != _ORI_HH:
        if hn == 2:
            return 8
        if hn == 1:
            return 7 if vn >= 1 else (6 if dn >= 1 else 5)
        if vn == 2:
            return 4
        if vn == 1:
            return 3
        return 2 if dn >= 2 else (1 if dn == 1 else 0)
    hv = hn + vn
    if dn >= 3:
        return 8
    if dn == 2:
        return 7 if hv >= 1 else 6
    if dn == 1:
        return 5 if hv >= 2 else (4 if hv == 1 else 3)
    return 2 if hv >= 2 else (1 if hv == 1 else 0)


# sign-coding context + XOR bit keyed by (hc + 1, vc + 1) (Table D.4)
_SC_TABLE = {
    (2, 2): (13, 0), (2, 1): (12, 0), (2, 0): (11, 0),
    (1, 2): (10, 0), (1, 1): (9, 0), (1, 0): (10, 1),
    (0, 2): (11, 1), (0, 1): (12, 1), (0, 0): (13, 1),
}


class _T1State:
    """Shared decode/encode state for one code-block: significance,
    sign, magnitude and per-bitplane visited flags on a 1-padded grid
    (no bounds checks in neighbor sums)."""

    def __init__(self, w: int, h: int, ori: int):
        self.w, self.h, self.ori = w, h, ori
        self.sig = np.zeros((h + 2, w + 2), dtype=np.uint8)
        self.neg = np.zeros((h + 2, w + 2), dtype=np.uint8)
        self.mag = np.zeros((h + 2, w + 2), dtype=np.int64)
        self.visited = np.zeros((h + 2, w + 2), dtype=np.uint8)
        self.refined = np.zeros((h + 2, w + 2), dtype=np.uint8)

    def counts(self, y: int, x: int) -> tuple[int, int, int]:
        s = self.sig
        hn = int(s[y, x - 1]) + int(s[y, x + 1])
        vn = int(s[y - 1, x]) + int(s[y + 1, x])
        dn = (int(s[y - 1, x - 1]) + int(s[y - 1, x + 1])
              + int(s[y + 1, x - 1]) + int(s[y + 1, x + 1]))
        return hn, vn, dn

    def sign_ctx(self, y: int, x: int) -> tuple[int, int]:
        s, g = self.sig, self.neg

        def contrib(yy, xx):
            if not s[yy, xx]:
                return 0
            return -1 if g[yy, xx] else 1
        hc = max(-1, min(1, contrib(y, x - 1) + contrib(y, x + 1)))
        vc = max(-1, min(1, contrib(y - 1, x) + contrib(y + 1, x)))
        return _SC_TABLE[(hc + 1, vc + 1)]


def _t1_pass_seq(npasses: int):
    """Pass kinds in decode order: cleanup first, then (spp, mrp, cup)
    triplets, each triplet one bitplane lower."""
    kinds = ["cup"]
    while len(kinds) < npasses:
        kinds += ["spp", "mrp", "cup"]
    return kinds[:npasses]


def decode_cblk(data: bytes, w: int, h: int, ori: int, mb: int,
                zbp: int, npasses: int, segsym: bool
                ) -> tuple[np.ndarray, int]:
    """EBCOT decode of one code-block codeword segment → (signed int
    coefficient array (h, w), lowest decoded bitplane)."""
    if npasses <= 0:
        return np.zeros((h, w), dtype=np.int64), 0
    p = mb - 1 - zbp
    if p < 0:
        raise Jp2Error("jp2-too-many-zero-bitplanes")
    st = _T1State(w, h, ori)
    dec = MQDecoder(data)
    cx = _t1_init_cx()
    kinds = _t1_pass_seq(npasses)
    plane = p
    for kind in kinds:
        if plane < 0:
            raise Jp2Error("jp2-too-many-passes")
        if kind == "spp":
            _spp(st, dec, cx, plane, decode=True)
        elif kind == "mrp":
            _mrp(st, dec, cx, plane, decode=True)
        else:
            _cup(st, dec, cx, plane, decode=True)
            if segsym:
                v = 0
                for _ in range(4):
                    v = (v << 1) | dec.decode(cx, _CTX_UNI)
                if v != 0xA:
                    raise Jp2Error("jp2-segsym-mismatch")
            st.visited[:] = 0
            plane -= 1
    lowest = plane + 1 if kinds[-1] == "cup" else plane
    mag = st.mag[1:-1, 1:-1]
    if lowest > 0:
        # mid-point reconstruction for truncated planes
        mag = mag + np.where(mag > 0, (1 << lowest) >> 1, 0)
    out = np.where(st.neg[1:-1, 1:-1] == 1, -mag, mag)
    return out, lowest


def _stripe_cols(w: int, h: int):
    for y0 in range(0, h, 4):
        rows = min(4, h - y0)
        for x in range(w):
            yield y0, x, rows


def _spp(st: _T1State, coder, cx: bytearray, plane: int, *,
         decode: bool) -> None:
    bit = 1 << plane
    for y0, x, rows in _stripe_cols(st.w, st.h):
        for dy in range(rows):
            y, xx = y0 + dy + 1, x + 1
            if st.sig[y, xx]:
                continue
            hn, vn, dn = st.counts(y, xx)
            if hn + vn + dn == 0:
                continue
            label = _zc_ctx(st.ori, hn, vn, dn)
            if decode:
                b = coder.decode(cx, label)
            else:
                b = 1 if (st.true_mag[y, xx] & bit) else 0
                coder.encode(cx, label, b)
            st.visited[y, xx] = 1
            if b:
                _code_sign(st, coder, cx, y, xx, decode)
                st.sig[y, xx] = 1
                st.mag[y, xx] |= bit


def _code_sign(st: _T1State, coder, cx: bytearray, y: int, x: int,
               decode: bool) -> None:
    label, xor = st.sign_ctx(y, x)
    if decode:
        st.neg[y, x] = coder.decode(cx, label) ^ xor
    else:
        coder.encode(cx, label, int(st.true_neg[y, x]) ^ xor)
        st.neg[y, x] = st.true_neg[y, x]


def _mrp(st: _T1State, coder, cx: bytearray, plane: int, *,
         decode: bool) -> None:
    bit = 1 << plane
    for y0, x, rows in _stripe_cols(st.w, st.h):
        for dy in range(rows):
            y, xx = y0 + dy + 1, x + 1
            if not st.sig[y, xx] or st.visited[y, xx]:
                continue
            if st.refined[y, xx]:
                label = 16
            else:
                hn, vn, dn = st.counts(y, xx)
                label = 15 if hn + vn + dn > 0 else 14
            if decode:
                b = coder.decode(cx, label)
            else:
                b = 1 if (st.true_mag[y, xx] & bit) else 0
                coder.encode(cx, label, b)
            if b:
                st.mag[y, xx] |= bit
            st.refined[y, xx] = 1
            st.visited[y, xx] = 1


def _cup(st: _T1State, coder, cx: bytearray, plane: int, *,
         decode: bool) -> None:
    bit = 1 << plane
    for y0, x, rows in _stripe_cols(st.w, st.h):
        xx = x + 1
        start = 0
        if rows == 4:
            rl = all(
                not st.sig[y0 + dy + 1, xx]
                and not st.visited[y0 + dy + 1, xx]
                and st.counts(y0 + dy + 1, xx) == (0, 0, 0)
                for dy in range(4))
            if rl:
                if decode:
                    any_sig = coder.decode(cx, _CTX_RL)
                else:
                    first = next(
                        (dy for dy in range(4)
                         if st.true_mag[y0 + dy + 1, xx] & bit), None)
                    any_sig = 0 if first is None else 1
                    coder.encode(cx, _CTX_RL, any_sig)
                if not any_sig:
                    continue
                if decode:
                    r = (coder.decode(cx, _CTX_UNI) << 1) \
                        | coder.decode(cx, _CTX_UNI)
                else:
                    r = first
                    coder.encode(cx, _CTX_UNI, (r >> 1) & 1)
                    coder.encode(cx, _CTX_UNI, r & 1)
                y = y0 + r + 1
                _code_sign(st, coder, cx, y, xx, decode)
                st.sig[y, xx] = 1
                st.mag[y, xx] |= bit
                start = r + 1
        for dy in range(start, rows):
            y = y0 + dy + 1
            if st.sig[y, xx] or st.visited[y, xx]:
                continue
            hn, vn, dn = st.counts(y, xx)
            label = _zc_ctx(st.ori, hn, vn, dn)
            if decode:
                b = coder.decode(cx, label)
            else:
                b = 1 if (st.true_mag[y, xx] & bit) else 0
                coder.encode(cx, label, b)
            if b:
                _code_sign(st, coder, cx, y, xx, decode)
                st.sig[y, xx] = 1
                st.mag[y, xx] |= bit


def encode_cblk(coeffs: np.ndarray, ori: int, mb: int, *,
                segsym: bool = False) -> tuple[bytes, int, int]:
    """EBCOT encode (all passes, one codeword segment) → ``(data,
    npasses, zero_bitplanes)``. Mirror of :func:`decode_cblk`."""
    h, w = coeffs.shape
    mags = np.abs(coeffs.astype(np.int64))
    maxmag = int(mags.max()) if mags.size else 0
    nplanes = max(1, int(maxmag).bit_length())
    if nplanes > mb:
        raise Jp2Error("jp2-encode-depth")
    zbp = mb - nplanes
    st = _T1State(w, h, ori)
    st.true_mag = np.zeros((h + 2, w + 2), dtype=np.int64)
    st.true_mag[1:-1, 1:-1] = mags
    st.true_neg = np.zeros((h + 2, w + 2), dtype=np.uint8)
    st.true_neg[1:-1, 1:-1] = (coeffs < 0).astype(np.uint8)
    enc = MQEncoder()
    cx = _t1_init_cx()
    npasses = 3 * nplanes - 2
    kinds = _t1_pass_seq(npasses)
    plane = nplanes - 1
    for kind in kinds:
        if kind == "spp":
            _spp(st, enc, cx, plane, decode=False)
        elif kind == "mrp":
            _mrp(st, enc, cx, plane, decode=False)
        else:
            _cup(st, enc, cx, plane, decode=False)
            if segsym:
                for b in (1, 0, 1, 0):
                    enc.encode(cx, _CTX_UNI, b)
            st.visited[:] = 0
            plane -= 1
    return enc.flush(), npasses, zbp

# ---------------------------------------------------------------------------
# codestream geometry (B.5-B.7): single tile at origin 0, maximal
# precincts — one precinct per resolution, code-block grid per band
# ---------------------------------------------------------------------------

_GAIN = {"LL": 0, "HL": 1, "LH": 1, "HH": 2}
_ORIENT = {"LL": _ORI_LL, "HL": _ORI_HL, "LH": _ORI_LH, "HH": _ORI_HH}


def _level_dims(w: int, h: int, nlevels: int):
    lw, lh = [w], [h]
    for _ in range(nlevels):
        lw.append((lw[-1] + 1) // 2)
        lh.append((lh[-1] + 1) // 2)
    return lw, lh


def _bands_at_res(w: int, h: int, nlevels: int, r: int):
    """[(name, band_w, band_h)] for resolution r (0 = LL only)."""
    lw, lh = _level_dims(w, h, nlevels)
    if r == 0:
        return [("LL", lw[nlevels], lh[nlevels])]
    n = nlevels - r + 1                            # decomposition level
    pw, ph = lw[n - 1], lh[n - 1]
    hw, hh = pw // 2, ph // 2                      # high-pass sizes
    return [("HL", hw, lh[n]), ("LH", lw[n], hh), ("HH", hw, hh)]


def _cb_grid(bw: int, bh: int, cbw: int, cbh: int):
    """[(x0, y0, w, h)] raster order; empty band -> no code-blocks."""
    if bw == 0 or bh == 0:
        return []
    out = []
    for y0 in range(0, bh, cbh):
        for x0 in range(0, bw, cbw):
            out.append((x0, y0, min(cbw, bw - x0), min(cbh, bh - y0)))
    return out


class _Cblk:
    __slots__ = ("w", "h", "included", "first_layer", "zbp", "lblock",
                 "npasses", "data", "this_np", "this_len")

    def __init__(self, w: int, h: int):
        self.w, self.h = w, h
        self.included = False
        self.first_layer = -1
        self.zbp = 0
        self.lblock = 3
        self.npasses = 0
        self.data = bytearray()
        self.this_np = 0
        self.this_len = 0


class _Band:
    def __init__(self, name: str, bw: int, bh: int, cbw: int,
                 cbh: int):
        self.name, self.w, self.h = name, bw, bh
        self.grid = _cb_grid(bw, bh, cbw, cbh)
        self.nx = (bw + cbw - 1) // cbw if bw else 0
        self.ny = (bh + cbh - 1) // cbh if bh else 0
        self.cbs = [_Cblk(g[2], g[3]) for g in self.grid]
        n = max(1, self.nx), max(1, self.ny)
        self.incl_tree = TagTree(n[0], n[1])
        self.zbp_tree = TagTree(n[0], n[1])


def _npasses_decode(rd: _HdrReader) -> int:
    if not rd.bit():
        return 1
    if not rd.bit():
        return 2
    v = rd.bits(2)
    if v < 3:
        return 3 + v
    v = rd.bits(5)
    if v < 31:
        return 6 + v
    return 37 + rd.bits(7)


def _npasses_encode(wr: _HdrWriter, n: int) -> None:
    if n == 1:
        wr.bit(0)
    elif n == 2:
        wr.bits(0b10, 2)
    elif n <= 5:
        wr.bits(0b11, 2)
        wr.bits(n - 3, 2)
    elif n <= 36:
        wr.bits(0b1111, 4)
        wr.bits(n - 6, 5)
    elif n <= 164:
        wr.bits(0b111111111, 9)
        wr.bits(n - 37, 7)
    else:
        raise Jp2Error("jp2-too-many-passes")


def _prog_iter(order: int, layers: int, nres: int, ncomp: int):
    """Packet sequence (layer, res, comp) for the five progression
    orders (single precinct, so position collapses)."""
    if order == 0:                                 # LRCP
        return [(l, r, c) for l in range(layers) for r in range(nres)
                for c in range(ncomp)]
    if order == 1:                                 # RLCP
        return [(l, r, c) for r in range(nres) for l in range(layers)
                for c in range(ncomp)]
    if order == 2:                                 # RPCL
        return [(l, r, c) for r in range(nres) for c in range(ncomp)
                for l in range(layers)]
    if order == 3:                                 # PCRL
        return [(l, r, c) for c in range(ncomp) for r in range(nres)
                for l in range(layers)]
    if order == 4:                                 # CPRL
        return [(l, r, c) for c in range(ncomp) for r in range(nres)
                for l in range(layers)]
    raise Jp2Error(f"jp2-progression-{order}-unsupported")


def _decode_packet(data: bytes, pos: int, bands: list[_Band],
                   layer: int, sop: bool, eph: bool) -> int:
    """One packet: header + body; appends code-block contributions.
    Returns the new position."""
    if sop and data[pos:pos + 2] == b"\xff\x91":   # SOP (6 bytes)
        pos += 6
    rd = _HdrReader(data, pos)
    contributions: list[tuple[_Cblk, int]] = []
    if rd.bit():                                   # non-empty packet
        for band in bands:
            for i, cb in enumerate(band.cbs):
                cx, cy = i % band.nx, i // band.nx
                if cb.included:
                    inc = rd.bit()
                else:
                    inc = band.incl_tree.decode(rd, cx, cy, layer + 1)
                cb.this_np = 0
                if not inc:
                    continue
                if not cb.included:
                    t = 1
                    while not band.zbp_tree.decode(rd, cx, cy, t):
                        t += 1
                        if t > 74:                 # Mb <= 38 + slack
                            raise Jp2Error("jp2-zbp-overflow")
                    cb.zbp = t - 1
                    cb.included = True
                    cb.first_layer = layer
                np_this = _npasses_decode(rd)
                while rd.bit():
                    cb.lblock += 1
                nbits = cb.lblock + int(math.floor(math.log2(np_this)))
                ln = rd.bits(nbits)
                cb.this_np, cb.this_len = np_this, ln
                cb.npasses += np_this
                contributions.append((cb, ln))
    pos = rd.align()
    if eph:
        if data[pos:pos + 2] != b"\xff\x92":
            raise Jp2Error("jp2-missing-eph")
        pos += 2
    for cb, ln in contributions:
        if pos + ln > len(data):
            raise Jp2Error("jp2-packet-truncated")
        cb.data += data[pos:pos + ln]
        pos += ln
    return pos


def _encode_packet(wr_bytes: bytearray, bands: list[_Band],
                   layer: int, plan: dict, eph: bool) -> None:
    """Mirror of :func:`_decode_packet`. ``plan[id(cb)]`` is a list of
    per-layer (npasses, data_bytes) contributions."""
    wr = _HdrWriter()
    body = bytearray()
    any_contrib = any(plan[id(cb)][layer][0] > 0
                      for band in bands for cb in band.cbs)
    if not any_contrib:
        wr.bit(0)
        wr_bytes += wr.done()
        if eph:
            wr_bytes += b"\xff\x92"
        return
    wr.bit(1)
    for band in bands:
        fl_grid = np.zeros((max(1, band.ny), max(1, band.nx)),
                           dtype=np.int64)
        zb_grid = np.zeros_like(fl_grid)
        for i, cb in enumerate(band.cbs):
            fl_grid[i // band.nx, i % band.nx] = cb.first_layer
            zb_grid[i // band.nx, i % band.nx] = cb.zbp
        for i, cb in enumerate(band.cbs):
            cx, cy = i % band.nx, i // band.nx
            np_this, seg = plan[id(cb)][layer]
            if cb.included:
                wr.bit(1 if np_this else 0)
            else:
                band.incl_tree.encode(wr, cx, cy, cb.first_layer,
                                      layer + 1, fl_grid)
            if not np_this:
                continue
            if not cb.included:
                # the decoder probes thresholds 1..zbp+1
                for tt in range(1, cb.zbp + 2):
                    band.zbp_tree.encode(wr, cx, cy, cb.zbp, tt,
                                         zb_grid)
                cb.included = True
            _npasses_encode(wr, np_this)
            ln = len(seg)
            nb_sig = ln.bit_length() if ln else 1
            base = int(math.floor(math.log2(np_this)))
            k = max(0, nb_sig - base - cb.lblock)
            for _ in range(k):
                wr.bit(1)
            wr.bit(0)
            cb.lblock += k
            wr.bits(ln, cb.lblock + base)
            body += seg
    wr_bytes += wr.done()
    if eph:
        wr_bytes += b"\xff\x92"
    wr_bytes += body

# ---------------------------------------------------------------------------
# codestream markers (Annex A) + full decode
# ---------------------------------------------------------------------------

_PROG_NAMES = {"LRCP": 0, "RLCP": 1, "RPCL": 2, "PCRL": 3, "CPRL": 4}


def _parse_cod(body: bytes) -> dict:
    scod = body[0]
    if scod & 1:
        raise Jp2Error("jp2-user-precincts-unsupported")
    prog, layers, mct = body[1], struct.unpack(">H", body[2:4])[0], \
        body[4]
    levels, xcb, ycb, style, transform = (body[5], body[6] & 0xF,
                                          body[7] & 0xF, body[8],
                                          body[9])
    if prog > 4:
        raise Jp2Error(f"jp2-progression-{prog}-unsupported")
    if style & ~0x20:
        raise Jp2Error(f"jp2-cbstyle-{style:#x}-unsupported")
    if transform > 1:
        raise Jp2Error(f"jp2-transform-{transform}-unsupported")
    if xcb + 2 + ycb + 2 > 12 or levels > 32:
        raise Jp2Error("jp2-cod-range")
    return {"sop": bool(scod & 2), "eph": bool(scod & 4),
            "prog": prog, "layers": layers, "mct": mct,
            "levels": levels, "cbw": 1 << (xcb + 2),
            "cbh": 1 << (ycb + 2), "segsym": bool(style & 0x20),
            "reversible": transform == 1}


def _parse_coc(body: bytes, cod: dict) -> dict:
    """COC (A.6.2): per-component coding-style override. ``body``
    starts at Scoc (the caller strips Ccoc). Scod-level fields
    (SOP/EPH, progression, layers, MCT) only exist in COD and are
    inherited."""
    scoc = body[0]
    if scoc & 1:
        raise Jp2Error("jp2-user-precincts-unsupported")
    if scoc & ~1:
        raise Jp2Error(f"jp2-coc-scoc-{scoc:#x}")
    levels, xcb, ycb, style, transform = (body[1], body[2] & 0xF,
                                          body[3] & 0xF, body[4],
                                          body[5])
    if style & ~0x20:
        raise Jp2Error(f"jp2-cbstyle-{style:#x}-unsupported")
    if transform > 1:
        raise Jp2Error(f"jp2-transform-{transform}-unsupported")
    if xcb + 2 + ycb + 2 > 12 or levels > 32:
        raise Jp2Error("jp2-cod-range")
    out = dict(cod)
    out.update({"levels": levels, "cbw": 1 << (xcb + 2),
                "cbh": 1 << (ycb + 2), "segsym": bool(style & 0x20),
                "reversible": transform == 1})
    return out


def _parse_qcd(body: bytes) -> dict:
    sqcd = body[0]
    style, guard = sqcd & 0x1F, sqcd >> 5
    if style == 0:                                 # no quantization
        exps = [b >> 3 for b in body[1:]]
        return {"style": 0, "guard": guard, "exps": exps,
                "mants": [0] * len(exps)}
    if style == 1:                                 # scalar derived
        v = struct.unpack(">H", body[1:3])[0]
        return {"style": 1, "guard": guard, "exps": [v >> 11],
                "mants": [v & 0x7FF]}
    if style == 2:                                 # scalar expounded
        vals = struct.unpack(">%dH" % ((len(body) - 1) // 2),
                             body[1:1 + 2 * ((len(body) - 1) // 2)])
        return {"style": 2, "guard": guard,
                "exps": [v >> 11 for v in vals],
                "mants": [v & 0x7FF for v in vals]}
    raise Jp2Error(f"jp2-quant-style-{style}-unsupported")


def parse_codestream(data: bytes) -> dict:
    """Main-header markers + concatenated tile-part data for the
    single tile."""
    if data[:2] != b"\xff\x4f":
        raise Jp2Error("jp2-no-soc")
    pos = 2
    siz = cod = qcd = None
    coc: dict[int, dict] = {}
    qcc: dict[int, dict] = {}
    tile = bytearray()
    n = len(data)
    while pos + 2 <= n:
        m = data[pos:pos + 2]
        pos += 2
        if m == b"\xff\xd9":                       # EOC
            break
        if m == b"\xff\x93":                       # SOD (inside SOT)
            raise Jp2Error("jp2-sod-outside-tile")
        if pos + 2 > n:
            raise Jp2Error("jp2-truncated")
        ln = struct.unpack(">H", data[pos:pos + 2])[0]
        body = data[pos + 2:pos + ln]
        if len(body) != ln - 2:
            raise Jp2Error("jp2-truncated")
        if m == b"\xff\x51":                       # SIZ
            (rsiz, xs, ys, xo, yo, xt, yt, xto, yto, csiz) = \
                struct.unpack(">HIIIIIIIIH", body[:36])
            del rsiz
            comps = []
            for i in range(csiz):
                ssiz, xr, yr = body[36 + 3 * i:39 + 3 * i]
                if xr != 1 or yr != 1:
                    raise Jp2Error("jp2-subsampling-unsupported")
                comps.append({"depth": (ssiz & 0x7F) + 1,
                              "signed": bool(ssiz & 0x80)})
                if comps[-1]["depth"] > 16:
                    raise Jp2Error("jp2-depth-unsupported")
            if xo or yo or xto or yto:
                raise Jp2Error("jp2-grid-offset-unsupported")
            if xt < xs or yt < ys:
                raise Jp2Error("jp2-multitile-unsupported")
            if csiz < 1 or csiz > 16:
                raise Jp2Error("jp2-component-count")
            if xs > 1 << 15 or ys > 1 << 15:
                # the DEFAULT precinct is 2^15, not unbounded: a
                # larger image has multiple precincts per resolution,
                # which the single-precinct packet iterator cannot
                # parse — named error, never desynced packets
                raise Jp2Error("jp2-precinct-count-unsupported")
            if xs * ys * csiz > 1 << 27:
                # per-side guards alone admit 2^15 × 2^15 × 16
                # components ≈ 17G samples of float64 band + DWT
                # intermediates from a tiny crafted header (ADVICE
                # r8) — budget total samples (~128M ≈ 1 GB transient)
                # before any band array is allocated
                raise Jp2Error("jp2-image-too-large")
            siz = {"w": xs, "h": ys, "comps": comps}
            pos += ln
        elif m == b"\xff\x52":                     # COD
            cod = _parse_cod(body)
            pos += ln
        elif m == b"\xff\x53":                     # COC
            if cod is None:
                raise Jp2Error("jp2-coc-before-cod")
            coc[body[0]] = _parse_coc(body[1:], cod)
            pos += ln
        elif m == b"\xff\x5c":                     # QCD
            qcd = _parse_qcd(body)
            pos += ln
        elif m == b"\xff\x5d":                     # QCC
            qcc[body[0]] = _parse_qcd(body[1:])
            pos += ln
        elif m == b"\xff\x90":                     # SOT
            isot, psot, tpsot, tnsot = struct.unpack(
                ">HIBB", body[:8])
            del tpsot, tnsot
            if isot != 0:
                raise Jp2Error("jp2-multitile-unsupported")
            end = min(pos - 2 + psot if psot else n, n)
            # walk the tile-part header marker by marker up to SOD:
            # tile-level coding overrides would silently change the
            # decode parameters, so they are NAMED errors, and the
            # SOT's own bytes can never false-match as SOD
            pos += ln
            while True:
                if pos + 2 > end:
                    raise Jp2Error("jp2-missing-sod")
                tm = data[pos:pos + 2]
                pos += 2
                if tm == b"\xff\x93":              # SOD
                    break
                if tm in (b"\xff\x52", b"\xff\x53", b"\xff\x5c",
                          b"\xff\x5d", b"\xff\x5e", b"\xff\x5f",
                          b"\xff\x61"):
                    raise Jp2Error(
                        f"jp2-tilepart-{tm.hex()}-unsupported")
                if tm not in (b"\xff\x64", b"\xff\x58"):  # COM/PLT
                    raise Jp2Error(
                        f"jp2-tilepart-marker-{tm.hex()}")
                if pos + 2 > end:
                    raise Jp2Error("jp2-truncated")
                pos += struct.unpack(">H", data[pos:pos + 2])[0]
            tile += data[pos:end]
            pos = end
        elif m in (b"\xff\x5e",):                  # RGN
            raise Jp2Error("jp2-rgn-unsupported")
        elif m in (b"\xff\x5f",):                  # POC
            raise Jp2Error("jp2-poc-unsupported")
        elif m in (b"\xff\x60", b"\xff\x61"):      # PPM / PPT
            raise Jp2Error("jp2-packed-headers-unsupported")
        elif m in (b"\xff\x64", b"\xff\x63", b"\xff\x55",
                   b"\xff\x57", b"\xff\x58"):      # COM/CRG/TLM/PLM/PLT
            pos += ln
        else:
            raise Jp2Error(f"jp2-marker-{m.hex()}-unsupported")
    if siz is None or cod is None or qcd is None:
        raise Jp2Error("jp2-missing-headers")
    return {"siz": siz, "cod": cod, "qcd": qcd, "coc": coc,
            "qcc": qcc, "tile": bytes(tile)}


def _band_quant(qcd: dict, nlevels: int, r: int, bi: int, name: str,
                depth: int, reversible: bool
                ) -> tuple[int, float]:
    """(Mb, delta) for band ``bi`` of resolution ``r`` (B.10.5/E.1)."""
    gain = _GAIN[name]
    if qcd["style"] == 1:                          # derived from LL
        nb = nlevels if r == 0 else nlevels - r + 1
        eps = qcd["exps"][0] - nlevels + nb
        mant = qcd["mants"][0]
    else:
        idx = 0 if r == 0 else 3 * (r - 1) + 1 + bi
        if idx >= len(qcd["exps"]):
            raise Jp2Error("jp2-qcd-short")
        eps, mant = qcd["exps"][idx], qcd["mants"][idx]
    mb = qcd["guard"] + eps - 1
    if mb <= 0 or mb > 38:
        raise Jp2Error("jp2-mb-range")
    if reversible:
        return mb, 1.0
    rb = depth + gain
    return mb, (2.0 ** (rb - eps)) * (1.0 + mant / 2048.0)


def decode_codestream(data: bytes) -> tuple[np.ndarray, dict]:
    """Full decode → (samples (h, w, ncomp) int/float array BEFORE
    dtype clamping, meta)."""
    cs = parse_codestream(data)
    siz, cod0, qcd0 = cs["siz"], cs["cod"], cs["qcd"]
    w, h = siz["w"], siz["h"]
    ncomp = len(siz["comps"])
    cods = [cs["coc"].get(c, cod0) for c in range(ncomp)]
    qcds = [cs["qcc"].get(c, qcd0) for c in range(ncomp)]
    # band/code-block state per (comp, res)
    comp_bands: list[list[list[_Band]]] = []
    for c in range(ncomp):
        codc = cods[c]
        per_res = []
        for r in range(codc["levels"] + 1):
            bl = [_Band(nm, bw, bh, codc["cbw"], codc["cbh"])
                  for (nm, bw, bh) in _bands_at_res(
                      w, h, codc["levels"], r)]
            per_res.append(bl)
        comp_bands.append(per_res)
    nres_max = max(cods[c]["levels"] + 1 for c in range(ncomp))
    tile = cs["tile"]
    pos = 0
    for (layer, r, c) in _prog_iter(cod0["prog"], cod0["layers"],
                                    nres_max, ncomp):
        if r >= cods[c]["levels"] + 1:
            continue
        pos = _decode_packet(tile, pos, comp_bands[c][r], layer,
                             cod0["sop"], cod0["eph"])
    if pos != len(tile):
        # every byte of the tile-part must be consumed: leftovers mean
        # the packet structure disagrees with the headers (e.g. an
        # inconsistent COC) — raising beats silently wrong pixels
        raise Jp2Error("jp2-trailing-tile-bytes")
    # tier-1 + dequant + synthesis per component
    out = []
    for c in range(ncomp):
        codc, qcdc = cods[c], qcds[c]
        depth = siz["comps"][c]["depth"]
        nlev = codc["levels"]
        rev = codc["reversible"]
        rec: dict[tuple[int, str], np.ndarray] = {}
        for r, bl in enumerate(comp_bands[c]):
            for bi, band in enumerate(bl):
                mb, delta = _band_quant(qcdc, nlev, r, bi, band.name,
                                        depth, rev)
                arr = np.zeros((band.h, band.w),
                               dtype=np.int64 if rev else np.float64)
                for (g, cb) in zip(band.grid, band.cbs):
                    if cb.npasses == 0:
                        continue
                    coef, _ = decode_cblk(
                        bytes(cb.data), cb.w, cb.h,
                        _ORIENT[band.name], mb, cb.zbp, cb.npasses,
                        codc["segsym"])
                    x0, y0, cw, ch = g
                    if rev:
                        arr[y0:y0 + ch, x0:x0 + cw] = coef
                    else:
                        arr[y0:y0 + ch, x0:x0 + cw] = coef * delta
                rec[(r, band.name)] = arr
        cur = rec[(0, "LL")]
        if not rev:
            cur = cur.astype(np.float64)
        for r in range(1, nlev + 1):
            cur = _idwt2(cur, rec[(r, "HL")], rec[(r, "LH")],
                         rec[(r, "HH")], rev)
        out.append(cur)
    samples = np.stack(out, axis=-1)
    meta = {"width": w, "height": h, "components": ncomp,
            "depths": [c["depth"] for c in siz["comps"]],
            "signed": [c["signed"] for c in siz["comps"]],
            "mct": cod0["mct"], "reversible": cod0["reversible"],
            "levels": cod0["levels"], "layers": cod0["layers"]}
    return samples, meta


def decode_jpx(data: bytes) -> dict:
    """Decode a raw JPEG 2000 codestream or a JP2 file → dict with
    ``width height components bit_depth samples`` ((h, w, c) uint8 or
    uint16). The PDF ``JPXDecode`` entry point."""
    if data[:2] == b"\xff\x4f":
        cs = data
    elif data[:12] == b"\x00\x00\x00\x0cjP  \r\n\x87\n":
        cs = _jp2_find_codestream(data)
    else:
        raise Jp2Error("jp2-not-jpeg2000")
    samples, meta = decode_codestream(cs)
    ncomp = meta["components"]
    # inverse multi-component transform (G.2/G.3)
    if meta["mct"] and ncomp >= 3:
        y = samples[..., 0].astype(np.float64 if not
                                   meta["reversible"] else np.int64)
        cb = samples[..., 1].astype(y.dtype)
        cr = samples[..., 2].astype(y.dtype)
        if meta["reversible"]:                     # RCT
            g = y - ((cb + cr) >> 2)
            r = cr + g
            b = cb + g
        else:                                      # ICT
            r = y + 1.402 * cr
            g = y - 0.344136 * cb - 0.714136 * cr
            b = y + 1.772 * cb
        samples = samples.copy()
        samples[..., 0], samples[..., 1], samples[..., 2] = r, g, b
    out = np.zeros(samples.shape, dtype=np.int64)
    for c in range(ncomp):
        ch = samples[..., c]
        if not meta["reversible"]:
            ch = np.rint(ch)
        ch = ch.astype(np.int64)
        depth = meta["depths"][c]
        if not meta["signed"][c]:
            ch = ch + (1 << (depth - 1))           # DC level shift
            ch = np.clip(ch, 0, (1 << depth) - 1)
        out[..., c] = ch
    depth = max(meta["depths"])
    dtype = np.uint8 if depth <= 8 else np.uint16
    if any(meta["signed"]):
        dtype = np.int32
    return {"width": meta["width"], "height": meta["height"],
            "components": ncomp, "bit_depth": depth,
            "depths": meta["depths"], "signed": meta["signed"],
            "samples": out.astype(dtype)}


def to_display_uint8(decoded: dict) -> np.ndarray:
    """Per-component depth-aware display mapping of a
    :func:`decode_jpx` result → (H, W, C) uint8: 8-bit passes through,
    deeper samples keep their top 8 bits (the TIFF-path convention),
    shallower samples scale to full range (the `_bilevel_display`
    convention — a bilevel JPX must come out 0/255, not 0/1), and
    signed components shift to mid-gray first."""
    arr = decoded["samples"]
    out = np.zeros(arr.shape, dtype=np.uint8)
    for c in range(arr.shape[2]):
        d = decoded["depths"][c]
        ch = arr[..., c].astype(np.int64)
        if decoded["signed"][c]:
            ch = np.clip(ch + (1 << (d - 1)), 0, (1 << d) - 1)
        if d == 8:
            out[..., c] = ch.astype(np.uint8)
        elif d > 8:
            out[..., c] = (ch >> (d - 8)).astype(np.uint8)
        else:
            out[..., c] = np.rint(
                ch * (255.0 / ((1 << d) - 1))).astype(np.uint8)
    return out


def _jp2_boxes(data: bytes, pos: int, end: int):
    while pos + 8 <= end:
        ln = struct.unpack(">I", data[pos:pos + 4])[0]
        btype = data[pos + 4:pos + 8]
        hdr = 8
        if ln == 1:
            if pos + 16 > end:
                raise Jp2Error("jp2-box-truncated")
            ln = struct.unpack(">Q", data[pos + 8:pos + 16])[0]
            hdr = 16
        elif ln == 0:
            ln = end - pos
        if ln < hdr or pos + ln > end:
            raise Jp2Error("jp2-box-truncated")
        yield btype, pos + hdr, pos + ln
        pos += ln


def _jp2_find_codestream(data: bytes) -> bytes:
    jp2c = None
    for btype, body, end in _jp2_boxes(data, 0, len(data)):
        if btype == b"jp2h":
            # walk the header superbox: palettized output (pclr/cmap)
            # would make the decoded index plane silently wrong pixels
            for sub, _, _ in _jp2_boxes(data, body, end):
                if sub in (b"pclr", b"cmap"):
                    raise Jp2Error("jp2-palette-unsupported")
        elif btype == b"jp2c" and jp2c is None:
            jp2c = data[body:end]
    if jp2c is None:
        raise Jp2Error("jp2-no-codestream-box")
    return jp2c

# ---------------------------------------------------------------------------
# mirror encoder (spec-built test streams; one tile, style 0)
# ---------------------------------------------------------------------------

def encode_codestream(img: np.ndarray, *, levels: int = 2,
                      reversible: bool = True, mct: bool | None = None,
                      prog: str = "LRCP", layers: int = 1,
                      cb: tuple[int, int] = (32, 32),
                      sop: bool = False, eph: bool = False,
                      segsym: bool = False) -> bytes:
    """Encode (h, w) or (h, w, c) unsigned samples into a raw JPEG 2000
    codestream. ``layers == 2`` puts even-indexed code-blocks in layer
    0 and the rest in layer 1 (exercises late inclusion + the
    re-inclusion bit without splitting MQ segments)."""
    if img.ndim == 2:
        img = img[..., None]
    h, w, ncomp = img.shape
    if not (1 <= ncomp <= 16):
        raise Jp2Error("jp2-component-count")
    if layers not in (1, 2):
        raise Jp2Error("jp2-encode-layers")
    depth = 16 if img.dtype.itemsize > 1 else 8
    if img.dtype == np.uint8:
        depth = 8
    elif img.dtype == np.uint16:
        depth = 16
    else:
        raise Jp2Error("jp2-encode-dtype")
    if mct is None:
        mct = ncomp >= 3
    mct = bool(mct) and ncomp >= 3
    cbw, cbh = cb
    if cbw * cbh > 4096 or cbw < 4 or cbh < 4 \
            or cbw & (cbw - 1) or cbh & (cbh - 1):
        raise Jp2Error("jp2-encode-cb")
    prog_i = _PROG_NAMES[prog]

    # DC shift + MCT
    planes = [img[..., c].astype(np.int64) - (1 << (depth - 1))
              for c in range(ncomp)]
    if mct:
        r, g, b = planes[0], planes[1], planes[2]
        if reversible:                             # forward RCT
            y = (r + 2 * g + b) >> 2
            planes[0], planes[1], planes[2] = y, b - g, r - g
        else:                                      # forward ICT
            rf, gf, bf = (p.astype(np.float64) for p in (r, g, b))
            planes[0] = 0.299 * rf + 0.587 * gf + 0.114 * bf
            planes[1] = -0.16875 * rf - 0.33126 * gf + 0.5 * bf
            planes[2] = 0.5 * rf - 0.41869 * gf - 0.08131 * bf

    # wavelet + quantize; collect per-band integer coefficients
    comp_coeffs: list[dict] = []
    band_eps: list[int] = []                       # codestream order
    for c in range(ncomp):
        cur = planes[c] if reversible \
            else planes[c].astype(np.float64)
        rec: dict[tuple[int, str], np.ndarray] = {}
        for n in range(1, levels + 1):
            ll, hl, lh, hh = _fdwt2(cur, reversible)
            rec[(levels - n + 1, "HL")] = hl
            rec[(levels - n + 1, "LH")] = lh
            rec[(levels - n + 1, "HH")] = hh
            cur = ll
        rec[(0, "LL")] = cur
        # rec keys are already resolution indices: the n-th split
        # (decomposition level n) produces the bands of resolution
        # r = levels - n + 1
        if not reversible:
            rec = {k: np.trunc(v).astype(np.int64)
                   for k, v in rec.items()}        # delta = 1.0
        comp_coeffs.append(rec)
        if c == 0:
            for r in range(levels + 1):
                for (nm, _, _) in _bands_at_res(w, h, levels, r):
                    band_eps.append(depth + _GAIN[nm])

    # guard bits: every block of every band must fit Mb = G + eps - 1
    guard = 2
    for c in range(ncomp):
        i = 0
        for r in range(levels + 1):
            for (nm, _, _) in _bands_at_res(w, h, levels, r):
                arr = comp_coeffs[c][(r, nm)]
                mx = int(np.abs(arr).max()) if arr.size else 0
                need = max(1, mx.bit_length()) - band_eps[i] + 1
                guard = max(guard, need)
                i += 1
    if guard > 7:
        raise Jp2Error("jp2-encode-guard-overflow")

    # tier-1 encode + per-layer plan
    comp_bands: list[list[list[_Band]]] = []
    plan: dict[int, list[tuple[int, bytes]]] = {}
    cb_index = 0
    for c in range(ncomp):
        per_res = []
        i = 0
        for r in range(levels + 1):
            bl = []
            for (nm, bw, bh) in _bands_at_res(w, h, levels, r):
                band = _Band(nm, bw, bh, cbw, cbh)
                mb = guard + band_eps[i] - 1
                arr = comp_coeffs[c][(r, nm)]
                for (g, blk) in zip(band.grid, band.cbs):
                    x0, y0, cw, ch = g
                    data, npasses, zbp = encode_cblk(
                        arr[y0:y0 + ch, x0:x0 + cw],
                        _ORIENT[nm], mb, segsym=segsym)
                    lyr = 0 if layers == 1 else cb_index % 2
                    contrib = [(0, b"")] * layers
                    contrib[lyr] = (npasses, data)
                    plan[id(blk)] = contrib
                    blk.zbp = zbp
                    blk.first_layer = lyr
                    cb_index += 1
                bl.append(band)
                i += 1
            per_res.append(bl)
        comp_bands.append(per_res)

    # tile body: packets in progression order
    body = bytearray()
    seq = 0
    for (layer, r, c) in _prog_iter(prog_i, layers, levels + 1,
                                    ncomp):
        if sop:
            body += b"\xff\x91\x00\x04" + struct.pack(
                ">H", seq & 0xFFFF)
            seq += 1
        _encode_packet(body, comp_bands[c][r], layer, plan, eph)

    # markers
    out = bytearray(b"\xff\x4f")                   # SOC
    siz = struct.pack(">HIIIIIIIIH", 0, w, h, 0, 0, w, h, 0, 0,
                      ncomp)
    for _ in range(ncomp):
        siz += bytes([depth - 1, 1, 1])
    out += b"\xff\x51" + struct.pack(">H", 2 + len(siz)) + siz
    scod = (2 if sop else 0) | (4 if eph else 0)
    xcb = cbw.bit_length() - 1 - 2
    ycb = cbh.bit_length() - 1 - 2
    cod = bytes([scod, prog_i]) + struct.pack(">H", layers) \
        + bytes([1 if mct else 0, levels, xcb, ycb,
                 0x20 if segsym else 0, 1 if reversible else 0])
    out += b"\xff\x52" + struct.pack(">H", 2 + len(cod)) + cod
    if reversible:
        qcd = bytes([(guard << 5) | 0])
        qcd += bytes(e << 3 for e in band_eps)
    else:
        qcd = bytes([(guard << 5) | 2])            # expounded, mu=0
        for e in band_eps:
            qcd += struct.pack(">H", e << 11)
    out += b"\xff\x5c" + struct.pack(">H", 2 + len(qcd)) + qcd
    psot = 12 + 2 + len(body)
    out += b"\xff\x90" + struct.pack(">HHIBB", 10, 0, psot, 0, 1)
    out += b"\xff\x93" + body
    out += b"\xff\xd9"                             # EOC
    return bytes(out)


def encode_jpx(img: np.ndarray, *, jp2: bool = True,
               **kw) -> bytes:
    """JP2-wrapped (or raw, ``jp2=False``) encode."""
    cs = encode_codestream(img, **kw)
    if not jp2:
        return cs
    ncomp = 1 if img.ndim == 2 else img.shape[2]
    h, w = img.shape[:2]
    depth = 16 if img.dtype == np.uint16 else 8

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    sig = b"\x00\x00\x00\x0cjP  \r\n\x87\n"
    ftyp = box(b"ftyp", b"jp2 " + b"\x00\x00\x00\x00" + b"jp2 ")
    ihdr = box(b"ihdr", struct.pack(">IIHBBBB", h, w, ncomp,
                                    depth - 1, 7, 0, 0))
    colr = box(b"colr", bytes([1, 0, 0]) + struct.pack(
        ">I", 16 if ncomp >= 3 else 17))
    jp2h = box(b"jp2h", ihdr + colr)
    return sig + ftyp + jp2h + box(b"jp2c", cs)
