"""Content-stream lexer: bytes → list of (operator, params) operations.

Semantics of unipdf ``ContentStreamParser.Parse`` (contentstream/
contentstream.go:70): accumulate operands until an operator token, emit
``(operand, params)``; ``BI`` triggers inline-image parsing
(``ParseInlineImage``, contentstream.go:580). Unknown operators pass through
(relaxed mode, contentstream.go:575); BX/EX compatibility sections ignored.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .cos import DELIMITERS, WHITESPACE, Lexer, Name, PdfDict, PdfError


@dataclass
class InlineImage:
    params: PdfDict
    data: bytes


@dataclass
class Operation:
    op: str
    params: list



# single-regex token scanner for the hot content loop: each match consumes
# leading whitespace/comments plus ONE token — a number (1), a name without
# '#' escapes (2), an operator/keyword (3), or any other single byte (4,
# strings/arrays/dicts/stray delimiters, dispatched below). One C-level
# match replaces the skip_ws + dispatch + per-kind regex of the per-token
# Lexer path (~16% of single-core extraction before this change).
_CTOK = re.compile(
    # possessive quantifier: at EOF the engine must NOT backtrack into a
    # trailing comment and fabricate a token from its tail
    rb"(?:[\x00\t\n\x0c\r ]|%[^\r\n]*)*+"
    rb"(?:([+-]?(?:\d+\.?\d*|\.\d+))"
    rb"|/([^\x00\t\n\x0c\r ()<>\[\]{}/%#]*)"
    rb"|([A-Za-z'\"][A-Za-z0-9*'\"]*)"
    rb"|(.))",
    re.S,
)


def parse_content(data: bytes) -> list[Operation]:
    ops: list[Operation] = []
    params: list = []
    n = len(data)
    pos = 0
    lx = Lexer(data, 0)
    match = _CTOK.match
    params_append = params.append
    while pos < n:
        m = match(data, pos)
        if m is None:  # only trailing whitespace/comments remain
            break
        num, nm, op, other = m.groups()
        if num is not None:
            params_append(float(num) if b"." in num else int(num))
            pos = m.end()
            continue
        if nm is not None:
            end = m.end()
            if end < n and data[end] == 0x23:  # '#' escape: exact slow path
                lx.pos = m.start(2) - 1
                params_append(lx.parse_name())
                pos = lx.pos
            else:
                params_append(Name(nm.decode("latin-1")))
                pos = end
            continue
        if op is not None:
            pos = m.end()
            if op == b"BI":
                lx.pos = pos
                img = _parse_inline_image(lx)
                pos = lx.pos
                ops.append(Operation("BI", [img]))
                params = []
                params_append = params.append
            elif op in (b"true", b"false", b"null"):
                params_append(None if op == b"null" else op == b"true")
            else:
                ops.append(Operation(op.decode("latin-1"), params))
                params = []
                params_append = params.append
            continue
        c = other[0]
        try:
            if c == 0x28:  # (
                lx.pos = m.end() - 1
                params_append(lx.parse_literal_string())
                pos = lx.pos
            elif c == 0x3C:  # <
                lx.pos = m.end() - 1
                if data.startswith(b"<<", lx.pos):
                    params_append(lx.parse_dict())
                else:
                    params_append(lx.parse_hex_string())
                pos = lx.pos
            elif c == 0x5B:  # [
                lx.pos = m.end() - 1
                params_append(_parse_content_array(lx))
                pos = lx.pos
            else:
                pos = m.end()  # stray delimiter — skip (relaxed, c:575)
        except PdfError:
            # relaxed: skip one byte past wherever the sub-parser stopped
            pos = lx.pos + 1
    return ops


def _parse_content_array(lx: Lexer) -> list:
    """Content-stream array fast path (TJ arrays: numbers + strings).
    Numbers take the direct lexeme path — content streams carry no indirect
    references (ISO 32000 §7.8.2; reference parity contentstream.go:70), so
    the cos parser's `N G R` lookahead is dead weight here."""
    data = lx.data
    n = len(data)
    out = []
    out_append = out.append
    pos = lx.pos + 1  # past '['
    match = _CTOK.match
    while True:
        m = match(data, pos)
        if m is None:
            lx.pos = n
            raise PdfError("EOF in array")
        num, nm, kw, other = m.groups()
        if num is not None:
            out_append(float(num) if b"." in num else int(num))
            pos = m.end()
            continue
        if nm is not None:
            end = m.end()
            if end < n and data[end] == 0x23:
                lx.pos = m.start(2) - 1
                out_append(lx.parse_name())
                pos = lx.pos
            else:
                out_append(Name(nm.decode("latin-1")))
                pos = end
            continue
        if kw is not None:
            pos = m.end()
            if kw == b"true":
                out_append(True)
            elif kw == b"false":
                out_append(False)
            elif kw == b"null":
                out_append(None)
            else:
                lx.pos = pos
                raise PdfError(f"unexpected token {kw!r} in array")
            continue
        c = other[0]
        if c == 0x5D:  # ]
            lx.pos = m.end()
            return out
        if c == 0x28:
            lx.pos = m.end() - 1
            out_append(lx.parse_literal_string())
            pos = lx.pos
        elif c == 0x3C:
            lx.pos = m.end() - 1
            if data.startswith(b"<<", lx.pos):
                out_append(lx.parse_dict())
            else:
                out_append(lx.parse_hex_string())
            pos = lx.pos
        elif c == 0x5B:
            lx.pos = m.end() - 1
            out_append(_parse_content_array(lx))
            pos = lx.pos
        else:  # stray delimiter inside an array: typed error (cos parity)
            lx.pos = m.end() - 1
            raise PdfError(f"unexpected token in array at {lx.pos}")


def _parse_inline_image(lx: Lexer) -> InlineImage:
    """BI <pairs> ID <raw> EI (contentstream.go:580)."""
    d = PdfDict()
    data = lx.data
    n = len(data)
    while True:
        lx.skip_ws()
        if lx.pos >= n:
            break
        if data.startswith(b"ID", lx.pos) and (
            lx.pos + 2 >= n
            or data[lx.pos + 2] in WHITESPACE
            or data[lx.pos + 2] in DELIMITERS
        ):
            lx.pos += 2
            if lx.pos < n and data[lx.pos] in WHITESPACE:
                lx.pos += 1  # single whitespace after ID
            break
        key = lx.parse_name()
        lx.skip_ws()
        val = lx.parse_object()
        if isinstance(val, tuple):
            val = val[0]
        d[str(key)] = val
    start = lx.pos
    # scan for EI delimited by whitespace (binary-safe heuristic)
    i = start
    while i < n:
        j = data.find(b"EI", i)
        if j < 0:
            j = n
            break
        before_ok = j == 0 or data[j - 1] in WHITESPACE
        after_ok = j + 2 >= n or data[j + 2] in WHITESPACE or data[j + 2] in DELIMITERS
        if before_ok and after_ok:
            break
        i = j + 1
    raw = data[start:j]
    # exactly one EOL/space separates data from EI; payload bytes may
    # themselves end in whitespace, so strip a single separator only
    if raw.endswith(b"\r\n"):
        raw = raw[:-2]
    elif raw[-1:] in (b" ", b"\n", b"\r", b"\t"):
        raw = raw[:-1]
    lx.pos = min(j + 2, n)
    return InlineImage(d, raw)
