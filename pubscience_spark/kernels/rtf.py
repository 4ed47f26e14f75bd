"""H8: RTF → plain text (from-scratch striprtf-style state machine).

The reference strips RTF in ``sandbox/stats_testing.ipynb`` cell 2 (two
``striprtf`` variants) before feeding clinical notes into stats. This is a
deterministic reimplementation of the same control-word semantics: skip
destination groups (fonttbl/colortbl/stylesheet/info/pict…), honor ``\\par``
/ ``\\line`` / ``\\tab`` as whitespace, decode ``\\'hh`` hex escapes and
``\\uN`` unicode escapes (with ``\\ucN`` skip-count), drop everything else.
"""

from __future__ import annotations

import re

_DESTINATIONS = frozenset((
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "footer", "footnote", "annotation", "listtable",
    "listoverridetable", "generator", "themedata", "xmlnstbl",
))

_SPECIAL = {"par": "\n", "line": "\n", "tab": "\t", "sect": "\n",
            "page": "\n", "emdash": "\u2014", "endash": "\u2013",
            "lquote": "\u2018", "rquote": "\u2019",
            "ldblquote": "\u201c", "rdblquote": "\u201d", "bullet": "\u2022",
            "~": "\u00a0", "-": "", "_": "\u2011"}

# control words are case-sensitive lowercase per the RTF spec — an
# IGNORECASE match would swallow following capitalized text ("\parSecond")
_RE_TOKEN = re.compile(
    r"\\([a-z]{1,32})(-?\d{1,10})? ?|\\'([0-9a-fA-F]{2})|\\([^a-z])|([{}])")


def rtf_to_text(rtf: str) -> str:
    out: list[str] = []
    stack: list[tuple[int, bool]] = []   # (uc_skip, ignorable)
    uc_skip = 1
    ignorable = False
    pos = 0
    pending_skip = 0
    for m in _RE_TOKEN.finditer(rtf):
        if m.start() > pos:
            chunk = rtf[pos:m.start()].replace("\r", "").replace("\n", "")
            if chunk:
                if pending_skip:
                    drop = min(pending_skip, len(chunk))
                    chunk = chunk[drop:]
                    pending_skip -= drop
                if chunk and not ignorable:
                    out.append(chunk)
        pos = m.end()
        word, arg, hexa, esc, brace = m.groups()
        if brace == "{":
            stack.append((uc_skip, ignorable))
        elif brace == "}":
            if stack:
                uc_skip, ignorable = stack.pop()
        elif esc is not None:
            if esc == "*":
                ignorable = True
            elif esc in "\\{}":
                if not ignorable:
                    out.append(esc)
            elif esc in _SPECIAL:
                if not ignorable:
                    out.append(_SPECIAL[esc])
        elif hexa is not None:
            if pending_skip:
                pending_skip -= 1
            elif not ignorable:
                out.append(bytes([int(hexa, 16)]).decode("latin-1"))
        elif word is not None:
            w = word.lower()
            if w in _DESTINATIONS:
                ignorable = True
            elif w == "uc":
                uc_skip = int(arg or 1)
            elif w == "u":
                if not ignorable:
                    cp = int(arg or 0)
                    out.append(chr(cp + 65536 if cp < 0 else cp))
                pending_skip = uc_skip
            elif w in _SPECIAL:
                if not ignorable:
                    out.append(_SPECIAL[w])
            # other control words contribute no text
    tail = rtf[pos:].replace("\r", "").replace("\n", "")
    # a well-formed document ends in '}' (no content after it); truncated/
    # malformed RTF can leave real text past the last parsed position —
    # keep it rather than silently dropping the tail
    text = "".join(out) + ("" if tail in ("", "}") else tail)
    lines = [re.sub(r"[ \t]+", " ", ln).strip() for ln in text.split("\n")]
    return "\n".join(ln for ln in lines if ln)


def extract_rtf_bytes(raw: bytes) -> str:
    try:
        s = raw.decode("utf-8")
    except UnicodeDecodeError:
        s = raw.decode("latin-1")
    return rtf_to_text(s)
