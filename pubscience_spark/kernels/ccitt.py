"""CCITT Group 3/4 (ITU-T T.4 / T.6) bilevel fax codec — pure stdlib.

Scanned-PDF image XObjects and bilevel TIFFs overwhelmingly carry
CCITTFaxDecode (PDF) / compression 3-4 (TIFF) data; until round 6 these
surfaced as named error records (the since-removed PDF image harvest
and TIFF decoder). This module implements the codec from the public
ITU-T specs:

- Modified Huffman run-length tables (T.4 §2.2: white/black terminating
  codes 0-63, makeup codes 64-1728, shared extended makeup 1792-2560),
- 1-D MH row coding (T.4, TIFF compression 3 / PDF ``K = 0``),
- 2-D MMR coding (T.6, TIFF compression 4 / PDF ``K < 0``): pass /
  horizontal / vertical modes against the previous row's changing
  elements, EOFB terminated,
- a T.6 ENCODER (vertical-first mode selection per the spec flowchart)
  for datagen/tests — the ``write_warc`` precedent.

The reference reads scanned PDFs through fitz (``parse_pdfs.py:221``),
which decodes CCITT transparently; this is the from-scratch equivalent.
Decoding is inherently sequential bit-state per row, so the inner loop
is plain Python over an int bit-buffer. No pipeline calls this codec;
only its tests do.

Output convention: ``decode_g4``/``decode_g3_1d`` return an (H, W)
uint8 array with 1 = BLACK pixel (the fax-domain convention); callers
map to sample space (PDF ``BlackIs1``, TIFF photometric) themselves.
"""

from __future__ import annotations


class CCITTError(ValueError):
    pass


# --- T.4 §2.2 run-length code tables: run -> (code value, bit length) ---

_WHITE_CODES = {
    0: (0b00110101, 8), 1: (0b000111, 6), 2: (0b0111, 4), 3: (0b1000, 4),
    4: (0b1011, 4), 5: (0b1100, 4), 6: (0b1110, 4), 7: (0b1111, 4),
    8: (0b10011, 5), 9: (0b10100, 5), 10: (0b00111, 5), 11: (0b01000, 5),
    12: (0b001000, 6), 13: (0b000011, 6), 14: (0b110100, 6),
    15: (0b110101, 6), 16: (0b101010, 6), 17: (0b101011, 6),
    18: (0b0100111, 7), 19: (0b0001100, 7), 20: (0b0001000, 7),
    21: (0b0010111, 7), 22: (0b0000011, 7), 23: (0b0000100, 7),
    24: (0b0101000, 7), 25: (0b0101011, 7), 26: (0b0010011, 7),
    27: (0b0100100, 7), 28: (0b0011000, 7), 29: (0b00000010, 8),
    30: (0b00000011, 8), 31: (0b00011010, 8), 32: (0b00011011, 8),
    33: (0b00010010, 8), 34: (0b00010011, 8), 35: (0b00010100, 8),
    36: (0b00010101, 8), 37: (0b00010110, 8), 38: (0b00010111, 8),
    39: (0b00101000, 8), 40: (0b00101001, 8), 41: (0b00101010, 8),
    42: (0b00101011, 8), 43: (0b00101100, 8), 44: (0b00101101, 8),
    45: (0b00000100, 8), 46: (0b00000101, 8), 47: (0b00001010, 8),
    48: (0b00001011, 8), 49: (0b01010010, 8), 50: (0b01010011, 8),
    51: (0b01010100, 8), 52: (0b01010101, 8), 53: (0b00100100, 8),
    54: (0b00100101, 8), 55: (0b01011000, 8), 56: (0b01011001, 8),
    57: (0b01011010, 8), 58: (0b01011011, 8), 59: (0b01001010, 8),
    60: (0b01001011, 8), 61: (0b00110010, 8), 62: (0b00110011, 8),
    63: (0b00110100, 8),
    # makeup codes
    64: (0b11011, 5), 128: (0b10010, 5), 192: (0b010111, 6),
    256: (0b0110111, 7), 320: (0b00110110, 8), 384: (0b00110111, 8),
    448: (0b01100100, 8), 512: (0b01100101, 8), 576: (0b01101000, 8),
    640: (0b01100111, 8), 704: (0b011001100, 9), 768: (0b011001101, 9),
    832: (0b011010010, 9), 896: (0b011010011, 9), 960: (0b011010100, 9),
    1024: (0b011010101, 9), 1088: (0b011010110, 9),
    1152: (0b011010111, 9), 1216: (0b011011000, 9),
    1280: (0b011011001, 9), 1344: (0b011011010, 9),
    1408: (0b011011011, 9), 1472: (0b010011000, 9),
    1536: (0b010011001, 9), 1600: (0b010011010, 9), 1664: (0b011000, 6),
    1728: (0b010011011, 9),
}

_BLACK_CODES = {
    0: (0b0000110111, 10), 1: (0b010, 3), 2: (0b11, 2), 3: (0b10, 2),
    4: (0b011, 3), 5: (0b0011, 4), 6: (0b0010, 4), 7: (0b00011, 5),
    8: (0b000101, 6), 9: (0b000100, 6), 10: (0b0000100, 7),
    11: (0b0000101, 7), 12: (0b0000111, 7), 13: (0b00000100, 8),
    14: (0b00000111, 8), 15: (0b000011000, 9), 16: (0b0000010111, 10),
    17: (0b0000011000, 10), 18: (0b0000001000, 10),
    19: (0b00001100111, 11), 20: (0b00001101000, 11),
    21: (0b00001101100, 11), 22: (0b00000110111, 11),
    23: (0b00000101000, 11), 24: (0b00000010111, 11),
    25: (0b00000011000, 11), 26: (0b000011001010, 12),
    27: (0b000011001011, 12), 28: (0b000011001100, 12),
    29: (0b000011001101, 12), 30: (0b000001101000, 12),
    31: (0b000001101001, 12), 32: (0b000001101010, 12),
    33: (0b000001101011, 12), 34: (0b000011010010, 12),
    35: (0b000011010011, 12), 36: (0b000011010100, 12),
    37: (0b000011010101, 12), 38: (0b000011010110, 12),
    39: (0b000011010111, 12), 40: (0b000001101100, 12),
    41: (0b000001101101, 12), 42: (0b000011011010, 12),
    43: (0b000011011011, 12), 44: (0b000001010100, 12),
    45: (0b000001010101, 12), 46: (0b000001010110, 12),
    47: (0b000001010111, 12), 48: (0b000001100100, 12),
    49: (0b000001100101, 12), 50: (0b000001010010, 12),
    51: (0b000001010011, 12), 52: (0b000000100100, 12),
    53: (0b000000110111, 12), 54: (0b000000111000, 12),
    55: (0b000000100111, 12), 56: (0b000000101000, 12),
    57: (0b000001011000, 12), 58: (0b000001011001, 12),
    59: (0b000000101011, 12), 60: (0b000000101100, 12),
    61: (0b000001011010, 12), 62: (0b000001100110, 12),
    63: (0b000001100111, 12),
    # makeup codes
    64: (0b0000001111, 10), 128: (0b000011001000, 12),
    192: (0b000011001001, 12), 256: (0b000001011011, 12),
    320: (0b000000110011, 12), 384: (0b000000110100, 12),
    448: (0b000000110101, 12), 512: (0b0000001101100, 13),
    576: (0b0000001101101, 13), 640: (0b0000001001010, 13),
    704: (0b0000001001011, 13), 768: (0b0000001001100, 13),
    832: (0b0000001001101, 13), 896: (0b0000001110010, 13),
    960: (0b0000001110011, 13), 1024: (0b0000001110100, 13),
    1088: (0b0000001110101, 13), 1152: (0b0000001110110, 13),
    1216: (0b0000001110111, 13), 1280: (0b0000001010010, 13),
    1344: (0b0000001010011, 13), 1408: (0b0000001010100, 13),
    1472: (0b0000001010101, 13), 1536: (0b0000001011010, 13),
    1600: (0b0000001011011, 13), 1664: (0b0000001100100, 13),
    1728: (0b0000001100101, 13),
}

# extended makeup codes 1792-2560 (T.4 table 3/T.4 — shared by both colors)
_EXT_CODES = {
    1792: (0b00000001000, 11), 1856: (0b00000001100, 11),
    1920: (0b00000001101, 11), 1984: (0b000000010010, 12),
    2048: (0b000000010011, 12), 2112: (0b000000010100, 12),
    2176: (0b000000010101, 12), 2240: (0b000000010110, 12),
    2304: (0b000000010111, 12), 2368: (0b000000011100, 12),
    2432: (0b000000011101, 12), 2496: (0b000000011110, 12),
    2560: (0b000000011111, 12),
}


def _decode_table(codes: dict) -> dict:
    """(bit length, code value) -> run, including the shared extended
    makeups; built once per color."""
    table = {(ln, val): run for run, (val, ln) in codes.items()}
    for run, (val, ln) in _EXT_CODES.items():
        table[(ln, val)] = run
    return table


_WHITE_DECODE = _decode_table(_WHITE_CODES)
_BLACK_DECODE = _decode_table(_BLACK_CODES)
_MAX_CODE_LEN = 14
_EOL = (0b000000000001, 12)


class _BitReader:
    """MSB-first bit reader over bytes with a running (pos) cursor."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = len(data) * 8

    def peek(self, n: int) -> int:
        """Next ``n`` bits (zero-padded past EOF — EOFB handling relies
        on explicit exhaustion checks, not padding)."""
        out = 0
        p = self.pos
        for i in range(n):
            j = p + i
            if j < self.nbits:
                bit = (self.data[j >> 3] >> (7 - (j & 7))) & 1
            else:
                bit = 0
            out = (out << 1) | bit
        return out

    def skip(self, n: int) -> None:
        self.pos += n

    def exhausted(self) -> bool:
        return self.pos >= self.nbits

    def byte_align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _read_run(br: _BitReader, white: bool) -> int:
    """One complete run length: zero or more makeup codes (>63) + a
    terminating code (≤ 63)."""
    table = _WHITE_DECODE if white else _BLACK_DECODE
    total = 0
    while True:
        for ln in range(2, _MAX_CODE_LEN + 1):
            run = table.get((ln, br.peek(ln)))
            if run is not None:
                br.skip(ln)
                total += run
                if run <= 63:
                    return total
                break                      # makeup — continue reading
        else:
            raise CCITTError(
                f"bad {'white' if white else 'black'} run code at bit "
                f"{br.pos}")


def _row_from_changes(changes: list, columns: int):
    """Transition positions (first = white→black) -> per-pixel bytes
    (1 = black)."""
    row = bytearray(columns)
    black = False
    prev = 0
    for pos in changes:
        pos = min(pos, columns)
        if black:
            for i in range(prev, pos):
                row[i] = 1
        black = not black
        prev = pos
    if black:
        for i in range(prev, columns):
            row[i] = 1
    return row


def _decode_row_2d(br: _BitReader, ref: list, columns: int) -> list:
    """One 2-D-coded row (shared by T.6 G4 and the 2-D rows of T.4
    K>0): transition positions against the reference row's changing
    elements."""
    cur: list = []
    a0 = -1
    white = True
    while a0 < columns:
        # b1: first change in ref > a0 with opposite color to a0's
        # (even index = white→black); b2: the next one after it
        i = 0
        while i < len(ref) and (ref[i] <= a0
                                or (i % 2 == 0) != white):
            i += 1
        b1 = ref[i] if i < len(ref) else columns
        b2 = ref[i + 1] if i + 1 < len(ref) else columns
        if br.peek(1) == 1:                            # V0
            br.skip(1); delta = 0
        elif br.peek(3) == 0b011:                      # VR1
            br.skip(3); delta = 1
        elif br.peek(3) == 0b010:                      # VL1
            br.skip(3); delta = -1
        elif br.peek(3) == 0b001:                      # horizontal
            br.skip(3)
            start = a0 if a0 > 0 else 0
            r1 = _read_run(br, white)
            r2 = _read_run(br, not white)
            cur.append(start + r1)
            cur.append(start + r1 + r2)
            a0 = start + r1 + r2
            continue
        elif br.peek(4) == 0b0001:                     # pass
            br.skip(4)
            a0 = b2
            continue
        elif br.peek(6) == 0b000011:                   # VR2
            br.skip(6); delta = 2
        elif br.peek(6) == 0b000010:                   # VL2
            br.skip(6); delta = -2
        elif br.peek(7) == 0b0000011:                  # VR3
            br.skip(7); delta = 3
        elif br.peek(7) == 0b0000010:                  # VL3
            br.skip(7); delta = -3
        elif br.peek(12) == _EOL[0]:
            raise CCITTError("ccitt-unexpected-eol-in-2d-row")
        elif br.exhausted():
            raise CCITTError("ccitt-truncated")
        else:
            raise CCITTError(f"ccitt-bad-mode at bit {br.pos}")
        a1 = b1 + delta
        if a1 < 0 or a1 > columns:
            raise CCITTError("ccitt-vertical-out-of-range")
        cur.append(a1)
        a0 = a1
        white = not white
    if any(cur[i] > cur[i + 1] for i in range(len(cur) - 1)):
        raise CCITTError("ccitt-nonmonotonic-row")
    return cur


def decode_g4(data: bytes, columns: int, rows: int = 0, *,
              byte_align: bool = False) -> "np.ndarray":
    """T.6 MMR decode -> (H, W) uint8, 1 = black.

    ``rows == 0`` decodes until EOFB / data end; otherwise exactly
    ``rows`` rows are decoded (the PDF /Rows / TIFF ImageLength
    contract). ``byte_align`` = PDF /EncodedByteAlign."""
    import numpy as np
    if columns <= 0:
        raise CCITTError("ccitt-bad-columns")
    br = _BitReader(data)
    out: list = []
    ref: list = []                        # changing elements, prev row
    while True:
        if rows and len(out) >= rows:
            break
        if byte_align:
            br.byte_align()
        if br.exhausted():
            if rows:
                raise CCITTError("ccitt-truncated")
            break
        if br.peek(24) == (_EOL[0] << 12 | _EOL[0]):      # EOFB
            br.skip(24)
            break
        if not rows and br.nbits - br.pos < 8 and br.peek(8) == 0:
            break                          # trailing byte-pad bits only
        cur = _decode_row_2d(br, ref, columns)
        out.append(_row_from_changes(cur, columns))
        ref = [c for c in cur if c < columns]
    if rows and len(out) < rows:
        raise CCITTError("ccitt-truncated")
    if not out:
        return np.zeros((0, columns), dtype=np.uint8)
    return np.frombuffer(b"".join(bytes(r) for r in out),
                         dtype=np.uint8).reshape(len(out), columns).copy()


def decode_g3_1d(data: bytes, columns: int, rows: int = 0, *,
                 byte_align: bool = False) -> "np.ndarray":
    """T.4 1-D MH decode (PDF ``K = 0`` / TIFF compression 3 basic
    mode) -> (H, W) uint8, 1 = black. Optional EOL codes before each
    row (with fill bits) are consumed if present."""
    import numpy as np
    if columns <= 0:
        raise CCITTError("ccitt-bad-columns")
    br = _BitReader(data)
    out: list = []
    while True:
        if rows and len(out) >= rows:
            break
        if byte_align:
            br.byte_align()
        # consume fill + EOL(s) if the producer wrote them
        while True:
            if br.peek(12) == _EOL[0]:
                br.skip(12)
            elif br.peek(12) == 0 and not br.exhausted() \
                    and br.nbits - br.pos > 12:
                br.skip(1)                 # fill bit before an EOL
            else:
                break
        if br.exhausted():
            break
        if not rows and br.nbits - br.pos < 12 and br.peek(12) == 0:
            break                          # trailing pad
        out.append(_row_from_changes(_decode_row_1d(br, columns),
                                     columns))
    if rows and len(out) < rows:
        raise CCITTError("ccitt-truncated")
    if not out:
        return np.zeros((0, columns), dtype=np.uint8)
    return np.frombuffer(b"".join(bytes(r) for r in out),
                         dtype=np.uint8).reshape(len(out), columns).copy()


def _decode_row_1d(br: _BitReader, columns: int) -> list:
    """One 1-D MH row: alternating white/black runs summing to exactly
    ``columns``; returns the transition positions."""
    pos = 0
    white = True
    changes: list = []
    while pos < columns:
        run = _read_run(br, white)
        pos += run
        changes.append(pos)
        white = not white
    if pos != columns:
        raise CCITTError("ccitt-row-overrun")
    return changes


def decode_g3_2d(data: bytes, columns: int, rows: int = 0, *,
                 byte_align: bool = False) -> "np.ndarray":
    """T.4 2-D (mixed) decode — PDF ``K > 0`` / TIFF compression 3 with
    T4Options bit 0: each row is preceded by EOL + one tag bit (1 =
    the row is 1-D MH, 0 = 2-D coded against the previous row) ->
    (H, W) uint8, 1 = black. Six consecutive EOLs (RTC) or data end
    terminate when ``rows`` is 0."""
    import numpy as np
    if columns <= 0:
        raise CCITTError("ccitt-bad-columns")
    br = _BitReader(data)
    out: list = []
    ref: list = []
    while True:
        if rows and len(out) >= rows:
            break
        if byte_align:
            br.byte_align()
        # zero fill bits, then the row's EOL (T.4 writes an EOL before
        # EVERY row, including the first)
        while not br.exhausted() and br.peek(12) != _EOL[0]:
            if br.peek(1) == 1:
                raise CCITTError("ccitt-missing-eol-in-g3-2d")
            br.skip(1)
        if br.exhausted():
            if rows:
                raise CCITTError("ccitt-truncated")
            break
        br.skip(12)
        tag = br.peek(1)
        br.skip(1)
        if tag == 1 and br.peek(12) == _EOL[0]:
            break                          # RTC: EOL+1 then more EOLs
        if tag == 1:
            cur = _decode_row_1d(br, columns)
        else:
            cur = _decode_row_2d(br, ref, columns)
        out.append(_row_from_changes(cur, columns))
        ref = [c for c in cur if c < columns]
    if rows and len(out) < rows:
        raise CCITTError("ccitt-truncated")
    if not out:
        return np.zeros((0, columns), dtype=np.uint8)
    return np.frombuffer(b"".join(bytes(r) for r in out),
                         dtype=np.uint8).reshape(len(out), columns).copy()


# --- encoder (datagen/test side, write_warc precedent) --------------------

class _BitWriter:
    __slots__ = ("bits",)

    def __init__(self):
        self.bits: list = []

    def put(self, val: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((val >> i) & 1)

    def tobytes(self) -> bytes:
        bits = self.bits + [0] * (-len(self.bits) % 8)
        return bytes(
            sum(bits[i + j] << (7 - j) for j in range(8))
            for i in range(0, len(bits), 8))


def _put_run(bw: _BitWriter, run: int, white: bool) -> None:
    codes = _WHITE_CODES if white else _BLACK_CODES
    while run >= 64:
        if run >= 2624:
            mk = 2560
        else:
            mk = (run // 64) * 64
        val, ln = _EXT_CODES[mk] if mk > 1728 else codes[mk]
        bw.put(val, ln)
        run -= mk
    val, ln = codes[run]
    bw.put(val, ln)


def _changes_of(row) -> list:
    changes = []
    prev = 0
    for i, px in enumerate(row):
        if px != prev:
            changes.append(i)
            prev = px
    return changes


def encode_g4(bitmap) -> bytes:
    """T.6 MMR encode of an (H, W) array-like of 0/1 (1 = black),
    EOFB-terminated — the coding-decision flowchart from the spec:
    vertical when |a1-b1| ≤ 3, else pass when b2 < a1, else horizontal."""
    h = len(bitmap)
    w = len(bitmap[0]) if h else 0
    bw = _BitWriter()
    ref: list = []
    for r in range(h):
        cur = _changes_of(bitmap[r])
        _encode_row_2d(bw, cur, ref, w)
        ref = cur
    bw.put(_EOL[0], 12)
    bw.put(_EOL[0], 12)
    return bw.tobytes()


def _encode_row_2d(bw: _BitWriter, cur: list, ref: list, w: int) -> None:
    a0 = -1
    white = True
    while a0 < w:
        i = 0
        while i < len(ref) and (ref[i] <= a0
                                or (i % 2 == 0) != white):
            i += 1
        b1 = ref[i] if i < len(ref) else w
        b2 = ref[i + 1] if i + 1 < len(ref) else w
        j = 0
        while j < len(cur) and cur[j] <= a0:
            j += 1
        a1 = cur[j] if j < len(cur) else w
        a2 = cur[j + 1] if j + 1 < len(cur) else w
        if b2 < a1:                                    # pass
            bw.put(0b0001, 4)
            a0 = b2
            continue
        d = a1 - b1
        if -3 <= d <= 3:                               # vertical
            bw.put(*{0: (0b1, 1), 1: (0b011, 3), 2: (0b000011, 6),
                     3: (0b0000011, 7), -1: (0b010, 3),
                     -2: (0b000010, 6), -3: (0b0000010, 7)}[d])
            a0 = a1
            white = not white
        else:                                          # horizontal
            bw.put(0b001, 3)
            start = a0 if a0 > 0 else 0
            _put_run(bw, a1 - start, white)
            _put_run(bw, a2 - a1, not white)
            a0 = a2


def _encode_row_1d(bw: _BitWriter, bitmap_row, w: int) -> None:
    changes = _changes_of(bitmap_row) + [w]
    pos = 0
    white = True
    for c in changes:
        _put_run(bw, c - pos, white)
        pos = c
        white = not white
        if pos >= w:
            break


def encode_g3_1d(bitmap) -> bytes:
    """T.4 1-D MH encode (no EOLs, rows packed back-to-back)."""
    h = len(bitmap)
    w = len(bitmap[0]) if h else 0
    bw = _BitWriter()
    for r in range(h):
        _encode_row_1d(bw, bitmap[r], w)
    return bw.tobytes()


def encode_g3_2d(bitmap, k: int = 4) -> bytes:
    """T.4 2-D (mixed) encode: EOL + tag bit before every row; every
    ``k``-th row is coded 1-D (the error-containment rule), the rest
    2-D against the previous row. RTC (6 × EOL+1) terminated."""
    h = len(bitmap)
    w = len(bitmap[0]) if h else 0
    bw = _BitWriter()
    ref: list = []
    for r in range(h):
        bw.put(_EOL[0], 12)
        if r % k == 0:
            bw.put(1, 1)
            _encode_row_1d(bw, bitmap[r], w)
        else:
            bw.put(0, 1)
            _encode_row_2d(bw, _changes_of(bitmap[r]), ref, w)
        ref = _changes_of(bitmap[r])
    for _ in range(6):
        bw.put(_EOL[0], 12)
        bw.put(1, 1)
    return bw.tobytes()
