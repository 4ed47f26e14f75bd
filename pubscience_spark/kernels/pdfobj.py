"""Structured PDF object-model parsing — the modern-PDF tier of P1.

The reference handles post-2005 PDFs (LaTeX/Word output) by delegating to
pypdf → fitz → pdfminer (``retrieve/OAI/parse_pdfs.py:112-241``); none of
those ship in this container, so this module implements from scratch the
three features that separate "fixture PDFs" from real-world ones:

- **indirect-object parsing** — a recursive-descent parser for the PDF
  object syntax (dicts, arrays, names, numbers, literal/hex strings,
  references, streams) over a sequential scan of ``N G obj`` sites, so
  object discovery never depends on a valid xref table;
- **cross-reference streams & object streams** (PDF 1.5+) —
  ``/Type /XRef`` streams (with ``/W`` field widths, ``/Index`` subsections
  and PNG predictors) are decoded into an authoritative object map, and
  ``/Type /ObjStm`` streams are expanded so objects compressed inside
  Flate streams (the normal LaTeX layout) become visible;
- **ToUnicode CMap text decoding** — per-font ``/ToUnicode`` CMaps
  (``bfchar``/``bfrange``) are parsed and applied to show-operator strings,
  tracking the active font through ``Tf``, so Identity-H/CID-encoded hex
  text extracts as real Unicode instead of garbage bytes.

Entry points: :func:`parse_document` (object map + trailer) and
:func:`extract_pages` (page-ordered text). ``pdfmini.pdf_to_pages``
dispatches here when the file carries ``/ObjStm``/``/XRef``/``/ToUnicode``
markers; plain legacy files keep the byte-stable regex path.
"""

from __future__ import annotations

import re
import zlib

_WHITESPACE = b"\x00\t\n\x0c\r "
_DELIMS = b"()<>[]{}/%"
_RE_OBJ = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_RE_WS = re.compile(rb"\s+")


class Name(str):
    """A PDF name token (``/Foo``) — distinct from a PDF string."""


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen

    def __repr__(self):
        return f"Ref({self.num},{self.gen})"

    def __eq__(self, other):
        return (isinstance(other, Ref) and other.num == self.num
                and other.gen == self.gen)

    def __hash__(self):
        return hash((self.num, self.gen))


class Stream:
    __slots__ = ("dict", "raw", "num", "gen")

    def __init__(self, d: dict, raw: bytes, num: int = 0, gen: int = 0):
        self.dict = d
        self.raw = raw
        self.num = num          # owning object number (per-object crypto key)
        self.gen = gen


class ObjMap(dict):
    """Object-number → object map; carries the document decryptor so
    ``decode_stream`` can transparently decrypt encrypted streams, and
    a crypt error string for password-protected files, plus each plain
    object's generation number (per-object crypto keys are (num, gen))."""
    __slots__ = ("decryptor", "crypt_error", "gens", "scan_pos")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.decryptor = None
        self.crypt_error = None
        self.gens: dict[int, int] = {}
        # file offset each plain object was scanned at — file order IS
        # incremental-update order, used to arbitrate ObjStm overrides
        self.scan_pos: dict[int, int] = {}


class _Lexer:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def skip_ws(self):
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            if c in _WHITESPACE:
                self.pos += 1
            elif c == 0x25:                       # % comment to EOL
                nl = d.find(b"\n", self.pos)
                self.pos = n if nl < 0 else nl + 1
            else:
                break

    def peek(self) -> int:
        return self.data[self.pos] if self.pos < len(self.data) else -1


def _parse_literal_string(lex: _Lexer) -> bytes:
    """Balanced-paren literal string, escape sequences RESOLVED — the
    returned bytes are the true string value (encryption O/U entries and
    Info strings are consumed as-is; a round-trip property test pins
    this)."""
    d = lex.data
    assert d[lex.pos] == 0x28
    lex.pos += 1
    depth = 1
    out = bytearray()
    while lex.pos < len(d):
        c = d[lex.pos]
        if c == 0x5C and lex.pos + 1 < len(d):    # backslash escape
            out += d[lex.pos:lex.pos + 2]
            lex.pos += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                lex.pos += 1
                break
        out.append(c)
        lex.pos += 1
    from .pdfmini import _unescape_pdf_string
    return _unescape_pdf_string(bytes(out))


def _parse_hex_string(lex: _Lexer) -> bytes:
    d = lex.data
    end = d.find(b">", lex.pos + 1)
    if end < 0:
        end = len(d)
    h = _RE_WS.sub(b"", d[lex.pos + 1:end])
    lex.pos = min(end + 1, len(d))
    if len(h) % 2:
        h += b"0"
    try:
        return bytes.fromhex(h.decode("ascii"))
    except ValueError:
        return b""


def _parse_name(lex: _Lexer) -> Name:
    d = lex.data
    lex.pos += 1                                  # consume '/'
    start = lex.pos
    while lex.pos < len(d):
        c = d[lex.pos]
        if c in _WHITESPACE or c in _DELIMS:
            break
        lex.pos += 1
    raw = d[start:lex.pos]
    if b"#" in raw:                               # #xx hex escapes in names
        raw = re.sub(rb"#([0-9A-Fa-f]{2})",
                     lambda m: bytes([int(m.group(1), 16)]), raw)
    return Name(raw.decode("latin-1"))


_RE_NUMBER = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")


def parse_object(lex: _Lexer):
    """One PDF object at the lexer position (dict/array/name/number/
    string/ref/bool/null). Raises ValueError on unparseable input."""
    lex.skip_ws()
    d = lex.data
    c = lex.peek()
    if c < 0:
        raise ValueError("eof")
    if c == 0x3C:                                 # '<'
        if d[lex.pos:lex.pos + 2] == b"<<":
            lex.pos += 2
            out: dict = {}
            while True:
                lex.skip_ws()
                if d[lex.pos:lex.pos + 2] == b">>":
                    lex.pos += 2
                    return out
                if lex.peek() != 0x2F:
                    raise ValueError("dict key is not a name")
                key = _parse_name(lex)
                out[str(key)] = parse_object(lex)
        return _parse_hex_string(lex)
    if c == 0x28:                                 # '('
        return _parse_literal_string(lex)
    if c == 0x2F:                                 # '/'
        return _parse_name(lex)
    if c == 0x5B:                                 # '['
        lex.pos += 1
        arr = []
        while True:
            lex.skip_ws()
            if lex.peek() == 0x5D:
                lex.pos += 1
                return arr
            arr.append(parse_object(lex))
    m = _RE_NUMBER.match(d, lex.pos)
    if m:
        tok = m.group(0)
        lex.pos = m.end()
        if b"." in tok:
            return float(tok)
        num = int(tok)
        # 'N G R' indirect reference lookahead
        save = lex.pos
        lex.skip_ws()
        m2 = re.compile(rb"(\d+)\s+R\b").match(d, lex.pos)
        if m2:
            lex.pos = m2.end()
            return Ref(num, int(m2.group(1)))
        lex.pos = save
        return num
    for lit, val in ((b"true", True), (b"false", False), (b"null", None)):
        if d.startswith(lit, lex.pos):
            lex.pos += len(lit)
            return val
    raise ValueError(f"unparseable object at {lex.pos}")


# ------------------------------------------------------------ encryption --
#
# PDF standard security handler, EMPTY-user-password case — the common
# "encrypted but freely readable" shape (owner password set, user password
# blank; pypdf opens these transparently, parse_pdfs.py relies on that).
# Supported: R2/R3 (RC4 40/128), R4 (/CFM AESV2 = AES-128-CBC or /CFM V2 =
# RC4), R6 (/V 5, AES-256 with the 2.B SHA-2 hash). Password-protected
# files (non-empty user password) surface as a per-document error.

_PAD = bytes.fromhex(
    "28BF4E5E4E758A4164004E56FFFA01082E2E00B6D0683E802F0CA9FE6453697A")


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (spec-vector-tested); symmetric."""
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _aes_cbc(key: bytes, iv: bytes, data: bytes, encrypt: bool = False) -> bytes:
    from cryptography.hazmat.primitives.ciphers import (Cipher, algorithms,
                                                        modes)
    c = Cipher(algorithms.AES(key), modes.CBC(iv))
    ctx = c.encryptor() if encrypt else c.decryptor()
    return ctx.update(data) + ctx.finalize()


def _std_file_key(enc: dict, file_id: bytes, password: bytes = b"") -> bytes:
    """Algorithm 2 (R2-R4): MD5 key derivation."""
    import hashlib
    r = int(enc.get("R", 2))
    n = int(enc.get("Length", 40)) // 8 if int(enc.get("V", 1)) >= 2 else 5
    o = bytes(enc["O"])[:32]
    p = int(enc["P"]) & 0xFFFFFFFF
    h = hashlib.md5((password + _PAD)[:32] + o
                    + p.to_bytes(4, "little") + file_id)
    if r >= 4 and enc.get("EncryptMetadata") is False:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _owner_to_user_pw(enc: dict, owner_pw: bytes, r: int) -> bytes:
    """Algorithm 7 (R2-R4): recover the padded user password from /O
    with the owner key. Returns 32 padded bytes; a wrong owner password
    yields garbage that simply fails the subsequent U validation."""
    import hashlib
    n = int(enc.get("Length", 40)) // 8 if int(enc.get("V", 1)) >= 2 else 5
    h = hashlib.md5((owner_pw + _PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    okey = h[:n]
    o = bytes(enc["O"])[:32]
    if r == 2:
        return rc4(okey, o)
    for i in range(19, -1, -1):
        o = rc4(bytes(b ^ i for b in okey), o)
    return o


def _hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """R6 Algorithm 2.B iterated SHA-2 hash."""
    import hashlib
    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _aes_cbc(k[:16], k[16:32], k1, encrypt=True)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


class Decryptor:
    """Per-document decryption state; ``decrypt(data, num, gen)``.

    ``password`` is tried as the USER password, then as the OWNER
    password (R2-R4: Algorithm 7 recovers the padded user password from
    /O; R5/R6: /O validation + /OE unwrap), then the empty user password
    as a final fallback — so unprotected-but-encrypted files keep
    working when a wrong password is supplied (the reference's pypdf
    path decrypts transparently the same way,
    ``parse_pdfs.py:112-241``)."""
    __slots__ = ("key", "cfm", "v")

    def __init__(self, enc: dict, file_id: bytes, objs: dict | None = None,
                 password: "bytes | str" = b""):
        import hashlib
        v = int(_resolve(enc.get("V"), objs) or 1)
        r = int(_resolve(enc.get("R"), objs) or 2)
        enc = {k: _resolve(x, objs) for k, x in enc.items()}
        self.v = v
        if isinstance(password, str):
            # R<=4 keys are raw padded bytes (PDFDocEncoding ≈ latin-1);
            # R5/R6 hash the UTF-8 form (spec says SASLprep — omitted,
            # plain UTF-8 covers ASCII passwords exactly)
            password = password.encode(
                "utf-8" if v >= 5 else "latin-1", "replace")
        if v >= 5:                                 # AES-256 (R5 or R6)
            u, o = bytes(enc["U"]), bytes(enc.get("O") or b"")
            if r == 5:
                # legacy Acrobat 9 R5: single SHA-256, no 2.B loop
                def hfun(pw: bytes, salt: bytes, udata: bytes = b"") -> bytes:
                    return hashlib.sha256(pw + salt + udata).digest()
            else:                                  # R6: Algorithm 2.B
                hfun = _hash_2b
            attempts = [(password, False)] if password else []
            if password and len(o) >= 48 and enc.get("OE") is not None:
                attempts.append((password, True))  # as owner password
            attempts.append((b"", False))
            for pw, as_owner in attempts:
                if as_owner:
                    # owner hashes salt from /O and mix in U[0:48]
                    if hfun(pw, o[32:40], u[:48]) != o[:32]:
                        continue
                    ikey = hfun(pw, o[40:48], u[:48])
                    wrapped = bytes(enc["OE"])
                else:
                    if hfun(pw, u[32:40]) != u[:32]:
                        continue
                    ikey = hfun(pw, u[40:48])
                    wrapped = bytes(enc["UE"])
                self.key = _aes_cbc(ikey, b"\x00" * 16, wrapped)[:32]
                self.cfm = "AESV3"
                return
            raise ValueError("pdf-password-protected")
        self.cfm = "V2"                            # RC4 default
        if v == 4:
            cf = enc.get("CF") or {}
            stmf = str(enc.get("StmF", "StdCF"))
            cfd = _resolve(cf.get(stmf), objs) if isinstance(cf, dict) else None
            if isinstance(cfd, dict) and str(cfd.get("CFM")) == "AESV2":
                self.cfm = "AESV2"
            if isinstance(cfd, dict) and "Length" in cfd and \
                    "Length" not in enc:
                ln = int(_resolve(cfd["Length"], objs))
                enc["Length"] = ln * 8 if ln <= 32 else ln
        cands = [password] if password else []
        if password and enc.get("O") is not None:
            # Algorithm 7: treat the password as the OWNER password —
            # RC4-decrypting /O with the owner key recovers the PADDED
            # user password, which then validates via the normal U check
            cands.append(_owner_to_user_pw(enc, password, r))
        cands.append(b"")
        for pw in cands:
            key = _std_file_key(enc, file_id, pw)
            if r >= 3:
                # Algorithm 5 check (first 16 bytes of U); the md5 input
                # is the fixed pad string, not the password
                h = hashlib.md5(_PAD + file_id).digest()
                u = rc4(key, h)
                for i in range(1, 20):
                    u = rc4(bytes(b ^ i for b in key), u)
                ok = u[:16] == bytes(enc["U"])[:16]
            else:
                # Algorithm 4 (R2): U is RC4(key, pad)
                ok = rc4(key, _PAD)[:32] == bytes(enc["U"])[:32]
            if ok:
                self.key = key
                return
        raise ValueError("pdf-password-protected")

    def decrypt(self, data: bytes, num: int, gen: int) -> bytes:
        import hashlib
        if self.v >= 5:
            if len(data) < 16:
                return b""
            return _unpad_cbc(_aes_cbc(self.key, data[:16], _cbc_body(data)))
        okey = hashlib.md5(
            self.key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
            + (b"sAlT" if self.cfm == "AESV2" else b"")).digest()
        okey = okey[:min(len(self.key) + 5, 16)]
        if self.cfm == "AESV2":
            if len(data) < 16:
                return b""
            return _unpad_cbc(_aes_cbc(okey, data[:16], _cbc_body(data)))
        return rc4(okey, data)


def _cbc_body(data: bytes) -> bytes:
    body = data[16:]
    return body[:len(body) - (len(body) % 16)]


def _unpad_cbc(plain: bytes) -> bytes:
    if plain and 1 <= plain[-1] <= 16:
        return plain[:-plain[-1]]
    return plain


_RE_FILE_ID = re.compile(
    rb"/ID\s*\[\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]*)>\s*\]")


def find_decryptor(raw: bytes, objs: dict,
                   password: "bytes | str" = b"",
                   ) -> "tuple[Decryptor, int] | None":
    """Locate the /Encrypt dictionary (trailer-referenced; recognized by
    its Standard-handler fields) and the file /ID, and build a Decryptor.
    Returns ``(decryptor, encrypt_obj_num)`` or None for unencrypted
    files; raises ValueError for password-protected or unsupported
    handlers."""
    enc, enc_num = None, -1
    for num, v in objs.items():
        if isinstance(v, dict) and "O" in v and "U" in v and "P" in v \
                and str(v.get("Filter")) == "Standard":
            enc, enc_num = v, num
            break
    if enc is None:
        return None
    m = _RE_FILE_ID.search(raw)
    file_id = bytes.fromhex(m.group(1).decode("ascii")) if m else b""
    return Decryptor(enc, file_id, objs, password), enc_num


def _decrypt_strings(objs: ObjMap, enc_num: int) -> None:
    """String values inside object dicts/arrays are encrypted too (Info
    metadata, /URI link targets) — decrypt them in place with each
    object's own key. The /Encrypt dict itself stays plaintext (spec)."""
    d = objs.decryptor

    def walk(v, num, gen):
        if isinstance(v, bytes):
            return d.decrypt(v, num, gen)
        if isinstance(v, list):
            return [walk(x, num, gen) for x in v]
        if isinstance(v, dict):
            return {k: walk(x, num, gen) for k, x in v.items()}
        if isinstance(v, Stream):
            v.dict = walk(v.dict, num, gen)
        return v

    for num in list(objs):
        if num == enc_num:
            continue
        gen = (objs[num].gen if isinstance(objs[num], Stream)
               else objs.gens.get(num, 0))
        objs[num] = walk(objs[num], num, gen)


# --------------------------------------------------------------- filters --

def lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """PDF LZWDecode: MSB-first variable-width codes (9→12 bits), clear
    code 256, EOD 257, /EarlyChange default 1 (width bumps one code
    early). Older (pre-Flate) PDFs compress content streams with this."""
    table = {i: bytes([i]) for i in range(256)}
    next_code, code_len = 258, 9
    prev: bytes | None = None
    out = bytearray()
    bitbuf = nbits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= code_len:
            nbits -= code_len
            code = (bitbuf >> nbits) & ((1 << code_len) - 1)
            if code == 256:                        # clear table
                table = {i: bytes([i]) for i in range(256)}
                next_code, code_len, prev = 258, 9, None
                continue
            if code == 257:                        # EOD
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code in table:
                entry = table[code]
                table[next_code] = prev + entry[:1]
                next_code += 1
            elif code == next_code:                # KwKwK case
                entry = prev + prev[:1]
                table[next_code] = entry
                next_code += 1
            else:
                raise ValueError("lzw: corrupt code")
            out += entry
            prev = entry
            if next_code + early_change >= (1 << code_len) \
                    and code_len < 12:
                code_len += 1
    return bytes(out)


def _png_unpredict(data: bytes, colors: int, columns: int,
                   bpc: int = 8) -> bytes:
    """PNG predictor reversal for stream data (xref streams are almost
    always /Predictor 12 = PNG Up). Scalar loop — xref streams are tiny
    (bytes-per-object × object count), never a hot path."""
    bpp = max(1, (colors * bpc) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    while pos + 1 + rowlen <= len(data) + rowlen and pos < len(data):
        ftype = data[pos]
        row = bytearray(data[pos + 1:pos + 1 + rowlen])
        if len(row) < rowlen:
            row += bytes(rowlen - len(row))
        if ftype == 1:                            # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:                          # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:                          # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:                          # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                cc = prev[i - bpp] if i >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
        pos += 1 + rowlen
    return bytes(out)


def decode_stream(stream: Stream, objs: dict | None = None) -> bytes:
    """Apply decryption (when the document is encrypted), then the
    /Filter cascade + /DecodeParms predictors. Raises ValueError on
    unsupported filters (caller surfaces the error column)."""
    data = stream.raw
    decryptor = getattr(objs, "decryptor", None)
    if decryptor is not None and stream.dict.get("Type") != "XRef":
        # xref streams are never encrypted (spec 7.5.8.2); all other
        # streams — content, ObjStm, CMaps — are
        data = decryptor.decrypt(data, stream.num, stream.gen)
    filters = stream.dict.get("Filter")
    if filters is None:
        return data
    if not isinstance(filters, list):
        filters = [filters]
    parms = stream.dict.get("DecodeParms") or stream.dict.get("DP")
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    for f, p in zip(filters, parms):
        f = _resolve(f, objs)
        p = _resolve(p, objs) or {}
        if f == "FlateDecode":
            data = zlib.decompress(data)
        elif f == "LZWDecode":
            ec = _resolve(p.get("EarlyChange"), objs) \
                if isinstance(p, dict) else None
            data = lzw_decode(data, 1 if ec is None else int(ec))
        elif f == "ASCIIHexDecode":
            h = _RE_WS.sub(b"", data.split(b">")[0])
            if len(h) % 2:
                h += b"0"
            data = bytes.fromhex(h.decode("ascii"))
        elif f == "ASCII85Decode":
            import base64
            d2 = _RE_WS.sub(b"", data)
            if d2.endswith(b"~>"):
                d2 = d2[:-2]
            data = base64.a85decode(d2)
        else:
            raise ValueError(f"unsupported-filter:{f}")
        pred = _resolve(p.get("Predictor"), objs) if isinstance(p, dict) else None
        if pred and pred >= 10:
            data = _png_unpredict(
                data,
                int(_resolve(p.get("Colors"), objs) or 1),
                int(_resolve(p.get("Columns"), objs) or 1),
                int(_resolve(p.get("BitsPerComponent"), objs) or 8))
    return data


def _resolve(v, objs: dict | None):
    seen = 0
    while isinstance(v, Ref) and objs is not None and seen < 32:
        v = objs.get(v.num)
        seen += 1
    return v


# ---------------------------------------------------------- object scan --

def scan_objects(raw: bytes) -> dict[int, object]:
    """Sequential scan of ``N G obj … endobj`` sites. Sequential (each
    object parsed before searching for the next) so ``obj`` bytes inside
    stream bodies never false-positive. Later duplicates of an object
    number override earlier ones — incremental-update semantics."""
    objs: ObjMap = ObjMap()
    # streams whose /Length was an unresolved forward ref: re-sliced in a
    # second pass against the completed map (the endstream fallback
    # truncates compressed bodies that happen to contain those bytes)
    pending: list[tuple[int, int, "Ref", object]] = []
    pos = 0
    while True:
        m = _RE_OBJ.search(raw, pos)
        if m is None:
            break
        num, gen = int(m.group(1)), int(m.group(2))
        lex = _Lexer(raw, m.end())
        try:
            val = parse_object(lex)
            lex.skip_ws()
            if isinstance(val, dict) and raw.startswith(b"stream", lex.pos):
                body_start = lex.pos + len(b"stream")
                if raw.startswith(b"\r\n", body_start):
                    body_start += 2
                elif raw.startswith(b"\n", body_start):
                    body_start += 1
                length = val.get("Length")
                length_ref = length if isinstance(length, Ref) else None
                if length_ref is not None:
                    length = objs.get(length_ref.num)  # forward ref: None
                body_end = None
                if isinstance(length, int) and \
                        0 <= length <= len(raw) - body_start:
                    cand = body_start + length
                    if raw[cand:cand + 16].lstrip(
                            b"\r\n \t").startswith(b"endstream"):
                        body_end = cand
                if body_end is None:      # bad/indirect Length: search
                    body_end = raw.find(b"endstream", body_start)
                    if body_end < 0:
                        body_end = len(raw)
                    if raw[body_end - 2:body_end] == b"\r\n":
                        body_end -= 2
                    elif raw[body_end - 1:body_end] in (b"\r", b"\n"):
                        body_end -= 1
                val = Stream(val, raw[body_start:body_end], num, gen)
                if length_ref is not None and not isinstance(length, int):
                    pending.append((num, body_start, length_ref, val))
                end = raw.find(b"endstream", body_end)
                pos = (end + len(b"endstream")) if end >= 0 else body_end
            else:
                pos = lex.pos
            objs[num] = val
            objs.gens[num] = gen
            objs.scan_pos[num] = m.start()
        except (ValueError, AssertionError, IndexError):
            pos = m.end()
    for num, body_start, ref, stream in pending:
        if objs.get(num) is not stream:   # overridden by a later update
            continue
        length = objs.get(ref.num)
        if not (isinstance(length, int)
                and 0 <= length <= len(raw) - body_start):
            continue
        cand = body_start + length
        if raw[cand:cand + 16].lstrip(b"\r\n \t").startswith(b"endstream"):
            objs[num] = Stream(stream.dict, raw[body_start:cand],
                               num, objs.gens.get(num, 0))
    return objs


def parse_xref_streams(raw: bytes, objs: dict) -> dict[int, tuple]:
    """Decode every /Type /XRef stream into ``{objnum: (type, f2, f3)}``
    (type 1: f2 = byte offset; type 2: f2 = containing ObjStm number,
    f3 = index inside it). Later streams in FILE order override earlier —
    the newest incremental section wins (sorting by object number would
    let an original xref with a higher number clobber an update's)."""
    table: dict[int, tuple] = {}
    for num in sorted(objs, key=lambda n: objs.scan_pos.get(n, 0)):
        v = objs[num]
        if not (isinstance(v, Stream) and v.dict.get("Type") == "XRef"):
            continue
        try:
            data = decode_stream(v, objs)
        except (ValueError, zlib.error):
            continue
        w = [int(_resolve(x, objs)) for x in v.dict.get("W", [1, 1, 1])]
        size = _resolve(v.dict.get("Size"), objs) or 0
        index = v.dict.get("Index") or [0, size]
        entry_len = sum(w)
        pos = 0
        for k in range(0, len(index) - 1, 2):
            start, count = int(_resolve(index[k], objs)), int(
                _resolve(index[k + 1], objs))
            for i in range(count):
                if pos + entry_len > len(data):
                    break
                fields = []
                p = pos
                for width in w:
                    fields.append(
                        int.from_bytes(data[p:p + width], "big") if width
                        else 1)   # omitted type field defaults to 1
                    p += width
                table[start + i] = tuple(fields)
                pos += entry_len
    return table


def expand_object_streams(raw: bytes, objs: dict,
                          xref: dict[int, tuple] | None = None) -> None:
    """Parse objects held inside /Type /ObjStm streams into ``objs``
    (PDF 1.5 compressed-object layout: header of (num, offset) int pairs,
    bodies after /First).

    Precedence (round-3 review): when the newest xref says object N
    lives in THIS object stream (type-2 entry), the ObjStm copy
    OVERRIDES any plain ``N 0 obj`` copy the scan found — that is how an
    incremental update supersedes an original body object with a
    compressed one. Without xref authority the ObjStm copy only fills
    gaps (setdefault), preserving the scan's later-wins rule for plain
    objects."""
    for num in list(objs):
        v = objs[num]
        if not (isinstance(v, Stream) and v.dict.get("Type") == "ObjStm"):
            continue
        try:
            data = decode_stream(v, objs)
        except (ValueError, zlib.error):
            continue
        n = int(_resolve(v.dict.get("N"), objs) or 0)
        first = int(_resolve(v.dict.get("First"), objs) or 0)
        try:
            ints = [int(x) for x in data[:first].split()]
        except ValueError:
            continue
        pairs = list(zip(ints[0::2], ints[1::2]))[:n]
        for onum, off in pairs:
            lex = _Lexer(data, first + off)
            try:
                parsed = parse_object(lex)
            except (ValueError, IndexError):
                continue
            entry = xref.get(onum) if xref else None
            scan_pos = getattr(objs, "scan_pos", {})
            plain_pos = scan_pos.get(onum, -1)
            stm_pos = scan_pos.get(num, 2 ** 62)
            if entry is not None and len(entry) >= 2 \
                    and entry[0] == 2 and entry[1] == num \
                    and plain_pos < stm_pos:
                # xref says the object lives here AND the plain copy sits
                # EARLIER in the file than this ObjStm — the compressed
                # copy is the newer incremental update. A plain copy
                # appended AFTER the ObjStm (newest update without a
                # fresh xref) keeps winning (round-3 review: a stale
                # type-2 entry must not clobber it).
                objs[onum] = parsed
            else:
                objs.setdefault(onum, parsed)


def parse_document(raw: bytes,
                   password: "bytes | str" = b"") -> dict[int, object]:
    """Full object map: sequential scan → ObjStm expansion, with xref
    streams decoded so compressed-entry bookkeeping is honored (the scan
    already locates every object, so a corrupt xref degrades gracefully
    instead of failing the file)."""
    objs = scan_objects(raw)
    enc_num = -1
    try:
        found = find_decryptor(raw, objs, password)
        if found is not None:
            objs.decryptor, enc_num = found
    except (ValueError, KeyError, TypeError) as exc:
        objs.crypt_error = (str(exc) if "password" in str(exc)
                            else "pdf-encryption-unsupported")
    # xref streams are decoded for validation/authority; type-1 entries
    # pointing at offsets the scan missed get a second parse attempt
    xref = parse_xref_streams(raw, objs)
    for onum, fields in xref.items():
        if len(fields) >= 2 and fields[0] == 1 and onum not in objs:
            off = fields[1]
            m = _RE_OBJ.match(raw, off) or _RE_OBJ.search(raw, off, off + 64)
            if m and int(m.group(1)) == onum:
                lex = _Lexer(raw, m.end())
                try:
                    objs[onum] = parse_object(lex)
                    objs.scan_pos[onum] = off
                except (ValueError, IndexError):
                    pass
    if objs.decryptor is not None:
        # BEFORE ObjStm expansion: strings inside object streams are
        # covered by the stream's own decryption, not re-encrypted
        _decrypt_strings(objs, enc_num)
    expand_object_streams(raw, objs, xref)
    return objs


# ------------------------------------------------------------ ToUnicode --

_RE_BFCHAR = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_RE_BFRANGE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_RE_CODESPACE = re.compile(rb"begincodespacerange(.*?)endcodespacerange",
                           re.DOTALL)
_RE_HEX_TOK = re.compile(rb"<([0-9A-Fa-f]*)>")
_RE_BFRANGE_ROW = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(<[0-9A-Fa-f]*>|\[[^\]]*\])")


def _utf16be(hexs: bytes) -> str:
    try:
        return bytes.fromhex(hexs.decode("ascii")).decode(
            "utf-16-be", "replace")
    except ValueError:
        return ""


def parse_tounicode(cmap_bytes: bytes) -> tuple[dict[int, str], int]:
    """(code→text map, code byte width) from a ToUnicode CMap stream."""
    code_bytes = 2                                # Identity-H default
    m = _RE_CODESPACE.search(cmap_bytes)
    if m:
        toks = _RE_HEX_TOK.findall(m.group(1))
        if toks:
            code_bytes = max(1, len(toks[0]) // 2)
    table: dict[int, str] = {}
    for block in _RE_BFCHAR.findall(cmap_bytes):
        toks = _RE_HEX_TOK.findall(block)
        for src, dst in zip(toks[0::2], toks[1::2]):
            try:
                table[int(src, 16)] = _utf16be(dst)
            except ValueError:
                continue
    for block in _RE_BFRANGE.findall(cmap_bytes):
        for row in _RE_BFRANGE_ROW.finditer(block):
            try:
                lo, hi = int(row.group(1), 16), int(row.group(2), 16)
            except ValueError:
                continue
            dst = row.group(3)
            if dst.startswith(b"["):
                toks = _RE_HEX_TOK.findall(dst)
                for i, t in enumerate(toks):
                    if lo + i > hi:
                        break
                    table[lo + i] = _utf16be(t)
            else:
                base_hex = dst[1:-1]
                try:
                    base = int(base_hex, 16) if base_hex else 0
                except ValueError:
                    continue
                # increment applies to the LAST UTF-16 code unit
                width = max(4, len(base_hex))
                for code in range(lo, min(hi, lo + 65535) + 1):
                    table[code] = _utf16be(
                        (f"%0{width}x" % (base + code - lo)).encode())
    return table, code_bytes


class FontDecoder:
    """Decodes show-operator string bytes for one font."""
    __slots__ = ("cmap", "code_bytes")

    def __init__(self, cmap: dict[int, str] | None, code_bytes: int = 1):
        self.cmap = cmap
        self.code_bytes = code_bytes

    def decode(self, bs: bytes) -> str:
        if self.cmap is None:
            return bs.decode("latin-1")
        n, out = self.code_bytes, []
        for i in range(0, len(bs) - n + 1, n):
            out.append(self.cmap.get(int.from_bytes(bs[i:i + n], "big"), ""))
        return "".join(out)


_PLAIN = FontDecoder(None)

# Adobe Glyph List subset: the names /Differences arrays actually use in
# Latin-script documents. Single-char names and uniXXXX forms are handled
# programmatically; everything else falls back to '' (dropped, like an
# unmapped CID).
_GLYPHS = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "fi": "ﬁ", "fl": "ﬂ",
    "dagger": "†", "daggerdbl": "‡", "section": "§",
    "paragraph": "¶", "copyright": "©", "registered": "®",
    "trademark": "™", "degree": "°", "plusminus": "±",
    "multiply": "×", "divide": "÷", "mu": "µ",
    "adieresis": "ä", "odieresis": "ö", "udieresis": "ü",
    "Adieresis": "Ä", "Odieresis": "Ö", "Udieresis": "Ü",
    "germandbls": "ß", "eacute": "é", "egrave": "è",
    "ecircumflex": "ê", "agrave": "à", "aacute": "á",
    "acircumflex": "â", "ccedilla": "ç", "ntilde": "ñ",
    "oacute": "ó", "ograve": "ò", "iacute": "í",
    "igrave": "ì", "uacute": "ú", "ugrave": "ù",
    "aring": "å", "oslash": "ø", "ae": "æ",
    "Aring": "Å", "Oslash": "Ø", "AE": "Æ",
    "Eacute": "É", "guillemotleft": "«",
    "guillemotright": "»", "questiondown": "¿",
    "exclamdown": "¡", "sterling": "£", "Euro": "€",
    "yen": "¥", "cent": "¢", "florin": "ƒ",
    "dotlessi": "ı", "OE": "Œ", "oe": "œ",
    "Scaron": "Š", "scaron": "š", "Zcaron": "Ž",
    "zcaron": "ž", "Ydieresis": "Ÿ", "ydieresis": "ÿ",
    "thorn": "þ", "Thorn": "Þ", "eth": "ð",
    "Eth": "Ð", "minus": "−", "fraction": "⁄",
    "periodcentered": "·", "middot": "·",
    "perthousand": "‰", "nbspace": " ",
}


def glyph_to_unicode(name: str) -> str:
    if len(name) == 1:
        return name
    if name in _GLYPHS:
        return _GLYPHS[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return ""
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return ""
    return ""


def _base_encoding_map(name: str) -> dict[int, str]:
    codec = {"WinAnsiEncoding": "cp1252",
             "MacRomanEncoding": "mac_roman"}.get(name, "latin-1")
    out = {}
    for i in range(32, 256):
        try:
            out[i] = bytes([i]).decode(codec)
        except UnicodeDecodeError:
            continue
    return out


def _simple_font_decoder(enc, objs: dict) -> FontDecoder:
    """1-byte font decoder from /Encoding: a base-encoding name
    (WinAnsi/MacRoman; StandardEncoding ≈ latin-1 in the ASCII range) or
    a dict with /BaseEncoding + /Differences (code, glyph-name, …) —
    the layout older Type1 journal PDFs use instead of ToUnicode."""
    if isinstance(enc, (Name, str)):
        return FontDecoder(_base_encoding_map(str(enc)), 1)
    table = _base_encoding_map(str(_resolve(enc.get("BaseEncoding"), objs)
                                   or ""))
    diffs = _resolve(enc.get("Differences"), objs) or []
    code = 0
    for item in diffs:
        if isinstance(item, (int, float)):
            code = int(item)
        else:
            table[code] = glyph_to_unicode(str(item))
            code += 1
    return FontDecoder(table, 1)


def _font_decoders(res: dict, objs: dict) -> dict[str, FontDecoder]:
    fonts = _resolve(res.get("Font"), objs) if isinstance(res, dict) else None
    out: dict[str, FontDecoder] = {}
    if not isinstance(fonts, dict):
        return out
    for fname, fref in fonts.items():
        fobj = _resolve(fref, objs)
        if not isinstance(fobj, dict):
            continue
        tu = _resolve(fobj.get("ToUnicode"), objs)
        if isinstance(tu, Stream):
            try:
                cmap, width = parse_tounicode(decode_stream(tu, objs))
                out[fname] = FontDecoder(cmap, width)
                continue
            except (ValueError, zlib.error):
                pass
        enc = _resolve(fobj.get("Encoding"), objs)
        if isinstance(enc, (Name, str, dict)) and not (
                isinstance(enc, (Name, str))
                and str(enc).startswith("Identity")):
            out[fname] = _simple_font_decoder(enc, objs)
            continue
        out[fname] = _PLAIN
    return out


# --------------------------------------------------------- page walking --

_RE_CONTENT_OP = re.compile(
    rb"/(?P<fsel>[^\s()<>\[\]{}/%]+)\s+[-+]?[\d.]+\s+Tf"   # font select
    rb"|\((?P<lit>(?:[^()\\]|\\.)*)\)\s*(?P<litop>Tj|'|\")"
    rb"|<(?P<hexs>[0-9A-Fa-f\s]*)>\s*(?P<hexop>Tj|'|\")"
    rb"|\[(?P<arr>.*?)\]\s*TJ"
    rb"|(?P<tdx>[-+]?[\d.]+)\s+(?P<tdy>[-+]?[\d.]+)\s+(?:Td|TD)"
    rb"|(?P<tstar>T\*)"
    rb"|(?P<tm>(?:[-+]?[\d.]+\s+){6})Tm"
    rb"|(?P<bt>BT)\b", re.DOTALL)
# TJ array items: strings and kerning numbers, in order
_RE_TJ_ITEM = re.compile(
    rb"\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]*)>|([-+]?[\d.]+)")
# kerning gap (thousandths of an em) treated as an inter-word space —
# pypdf/pdfminer use comparable heuristics; LaTeX word gaps are ~ -300
_TJ_SPACE_GAP = -150.0


def _page_list(objs: dict) -> list[tuple[dict, dict]]:
    """(page_dict, inherited_resources) in page-tree order. Falls back to
    object-number order over /Type /Page objects when no catalog exists."""
    catalog = None
    for v in objs.values():
        if isinstance(v, dict) and v.get("Type") == "Catalog":
            catalog = v
            break
    pages: list[tuple[dict, dict]] = []

    def walk(node, inherited_res, depth=0):
        node = _resolve(node, objs)
        if not isinstance(node, dict) or depth > 64:
            return
        res = _resolve(node.get("Resources"), objs) or inherited_res
        if node.get("Type") == "Page":
            pages.append((node, res if isinstance(res, dict) else {}))
        elif node.get("Type") == "Pages" or "Kids" in node:
            kids = _resolve(node.get("Kids"), objs) or []
            for kid in kids:
                walk(kid, res, depth + 1)

    if catalog is not None:
        walk(catalog.get("Pages"), {})
    if not pages:                                  # no/broken page tree
        for num in sorted(objs):
            v = objs[num]
            if isinstance(v, dict) and v.get("Type") == "Page":
                res = _resolve(v.get("Resources"), objs)
                pages.append((v, res if isinstance(res, dict) else {}))
    return pages


def _page_content(page: dict, objs: dict) -> bytes:
    contents = _resolve(page.get("Contents"), objs)
    parts = contents if isinstance(contents, list) else [contents]
    out = []
    for part in parts:
        part = _resolve(part, objs)
        if isinstance(part, Stream):
            try:
                out.append(decode_stream(part, objs))
            except (ValueError, zlib.error):
                continue
    return b"\n".join(out)


def _content_text(body: bytes, fonts: dict[str, FontDecoder]) -> str:
    """Positioning-aware text assembly for the structured path.

    Real PDFs emit MANY show operators per visual line (LaTeX kerns every
    few glyphs), so joining every Tj with ``\\n`` would put fragments of
    one line on separate lines — and the downstream P6 cleanup
    (``pdfmini.text_extractor``) scrubs by LINE (digit-newline strips,
    number-only-line drops), so line fidelity is semantic, not cosmetic.
    Line breaks follow the text-positioning operators the way
    pypdf/pdfminer approximate them: ``Td/TD`` with a vertical move,
    ``T*``, a ``Tm`` that changes the y translation, and the ``'``/``"``
    next-line show forms; within a line, show fragments concatenate, and
    a TJ kerning gap below :data:`_TJ_SPACE_GAP` renders as a space."""
    lines: list[str] = []
    cur_line: list[str] = []
    cur = _PLAIN
    last_tm_y: float | None = None
    from .pdfmini import _unescape_pdf_string  # shared escape semantics

    def newline():
        if cur_line:
            lines.append("".join(cur_line))
            cur_line.clear()

    def hex_bytes(h: bytes) -> bytes:
        h = _RE_WS.sub(b"", h)
        if len(h) % 2:
            h += b"0"
        try:
            return bytes.fromhex(h.decode("ascii"))
        except ValueError:
            return b""

    for m in _RE_CONTENT_OP.finditer(body):
        g = m.groupdict()
        if g["fsel"] is not None:
            cur = fonts.get(g["fsel"].decode("latin-1"), _PLAIN)
        elif g["lit"] is not None or g["hexs"] is not None:
            op = g["litop"] or g["hexop"]
            if op in (b"'", b'"'):          # next-line show forms
                newline()
            raw = (_unescape_pdf_string(g["lit"]) if g["lit"] is not None
                   else hex_bytes(g["hexs"]))
            cur_line.append(cur.decode(raw))
        elif g["arr"] is not None:
            for s in _RE_TJ_ITEM.finditer(g["arr"]):
                if s.group(1) is not None:
                    cur_line.append(cur.decode(_unescape_pdf_string(
                        s.group(1))))
                elif s.group(2) is not None:
                    cur_line.append(cur.decode(hex_bytes(s.group(2))))
                else:
                    try:
                        if float(s.group(3)) < _TJ_SPACE_GAP:
                            cur_line.append(" ")
                    except ValueError:
                        pass
        elif g["tdy"] is not None:
            try:
                if float(g["tdy"]) != 0.0:
                    newline()
            except ValueError:
                pass
        elif g["tstar"] is not None:
            newline()
        elif g["tm"] is not None:
            try:
                ty = float(g["tm"].split()[5])
            except (ValueError, IndexError):
                ty = None
            if ty is not None:
                if cur_line and ty != last_tm_y:
                    newline()
                last_tm_y = ty
        elif g["bt"] is not None:
            newline()
    newline()
    return "\n".join(lines)


def extract_document(raw: bytes, objs: ObjMap | None = None,
                     password: "bytes | str" = b"") -> dict:
    """Structured extraction: ``{pages, error, info}``. An empty page
    list means the caller should fall back to the legacy regex path
    (except ``pdf-password-protected``, which is terminal). Pass a
    pre-built ``objs`` map to reuse one parse across extraction and
    link harvesting (the hot extraction loop does); ``password`` is
    ignored in that case (the map is already decrypted)."""
    if objs is None:
        objs = parse_document(raw, password)
    if objs.crypt_error:
        return {"pages": [], "error": objs.crypt_error,
                "info": document_info(objs)}
    page_nodes = _page_list(objs)
    info = document_info(objs)
    if not page_nodes:
        return {"pages": [], "error": "no-page-tree", "info": info}
    pages: list[str] = []
    error = None
    for node, res in page_nodes:
        fonts = _font_decoders(res, objs)
        body = _page_content(node, objs)
        if not body and node.get("Contents") is not None:
            error = error or "content-decode-failed"
        pages.append(_content_text(body, fonts))
    return {"pages": pages, "error": error, "info": info}


def extract_pages(raw: bytes, password: "bytes | str" = b"",
                  ) -> tuple[list[str], str | None]:
    doc = extract_document(raw, password=password)
    return doc["pages"], doc["error"]


def harvest_links(objs: dict) -> list[str]:
    """P8 via the object model: /URI values from link-annotation action
    dicts — reaches annotations inside object streams and (decrypted)
    encrypted files, which the raw-bytes regex cannot. Sorted distinct."""
    found: set[str] = set()

    def walk(v, depth=0):
        if depth > 32:
            return
        if isinstance(v, dict):
            uri = v.get("URI")
            if isinstance(uri, bytes):
                found.add(uri.decode("latin-1", "replace"))
            for x in v.values():
                walk(x, depth + 1)
        elif isinstance(v, list):
            for x in v:
                walk(x, depth + 1)
        elif isinstance(v, Stream):
            walk(v.dict, depth + 1)

    for v in objs.values():
        walk(v)
    return sorted(found)


def _text_string(val: bytes) -> str:
    """PDF text-string decode: UTF-16BE with BOM (the normal modern-
    producer encoding), UTF-8 with BOM (PDF 2.0), else PDFDocEncoding
    ≈ latin-1."""
    if val.startswith(b"\xfe\xff"):
        return val[2:].decode("utf-16-be", "replace")
    if val.startswith(b"\xef\xbb\xbf"):
        return val[3:].decode("utf-8", "replace")
    return val.decode("latin-1", "replace")


def document_info(objs: dict) -> dict:
    """Best-effort /Info metadata (Producer etc.) from the object map."""
    for v in objs.values():
        if isinstance(v, dict) and ("Producer" in v or "Creator" in v):
            out = {}
            for k in ("Producer", "Creator", "Title", "Author"):
                val = v.get(k)
                if isinstance(val, bytes):
                    # parse_object already resolved string escapes
                    out[k] = _text_string(val)
            return out
    return {}
