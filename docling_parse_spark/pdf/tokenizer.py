"""PDF syntax lexer (ISO 32000-1 §7.2/§7.3) and content-stream tokenizer.

``Lexer`` holds the one implementation of each §7.3 token scanner in this
engine: the whitespace/``%``-comment skip, the bare token (keyword, number,
operator), the name with ``#xx`` escapes, the literal string (escapes, octal,
line continuations, nested parens) and the hex string. Two readers use it:

* ``tokenize`` — content streams, in the repair posture: malformed strings
  are repaired and nothing raises;
* ``pdf.file._Lexer`` — the file layer's object parser, a subclass that adds
  dictionaries, arrays, ``true``/``false``/``null`` and ``n g R`` references
  and raises ``ValueError`` on the two facts the scanners record:
  ``unclosed_string`` (a literal string ran to the end of the data) and
  ``hex_junk_at`` (position of a byte in a hex string that is neither hex
  nor whitespace).

``tokenize`` produces the typed instruction list
``[(operator, [operands...]), ...]`` that the interpreter consumes — the same
IR as the reference's ``vector<qpdf_stream_instruction>`` (reference:
src/parse/qpdf/stream_decoder.h:61-177, src/parse/qpdf/stream_instruction.h).
The reference delegates lexing to qpdf, whose tokenizer also serves both the
file's object syntax and content streams; here it is this module. Inline-image
payloads are skipped.

Malformed-number repair (reference: stream_decoder.h:45-47,125-174):
PDF generators in the wild emit run-together numbers like ``1.23-45`` (two
numbers) or ``--12.3`` (doubled sign). Rules reproduced here:

* a numeric token with an embedded ``-`` at position > 0 is split at every
  internal ``-``; the ``-`` signs the following number: ``1.23-45`` -> 1.23, -45
* a leading run of ``-`` collapses to one sign: ``--12.3`` -> -12.3
* ``null`` operands are reinterpreted as empty arrays (stream_decoder.h:120-124)

Operand value mapping: numbers -> float, strings -> bytes, names -> str (no
leading slash), arrays -> list, dicts -> dict, booleans -> bool, null -> [].
"""

from __future__ import annotations

import re
from binascii import a2b_hex

_WHITESPACE = b"\x00\t\n\x0c\r "
# C-level scanners for the hottest per-byte loops (identical byte classes):
# whitespace runs + %-comments-to-EOL, and bare tokens (non-ws, non-delim)
_WS_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+")
_BARE_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]+")
_NUM_RE = re.compile(rb"^[+-]?(\d+\.?\d*|\.\d+)$")
# a token that is number-shaped except for embedded '-' signs
_MALFORMED_NUM_RE = re.compile(rb"^[+-]{0,2}(\d+\.?\d*|\.\d+)(-+(\d+\.?\d*|\.\d+))+$")
_LEADING_MINUS_RE = re.compile(rb"^-{2,}((\d+\.?\d*|\.\d+))$")
# PDF §7.3.5: '#' + exactly two hex digits; a truncated escape stays literal
# (a strict class: int(b'+4', 16) would accept sign characters)
_NAME_ESC_RE = re.compile(rb"#([0-9A-Fa-f]{2})")
_NOT_HEX = bytes(sorted(set(range(256)) - set(b"0123456789abcdefABCDEF")))
_HEX_JUNK_RE = re.compile(rb"[^0-9A-Fa-f\x00\t\n\x0c\r ]")

_ESCAPES = {
    ord("n"): b"\n",
    ord("r"): b"\r",
    ord("t"): b"\t",
    ord("b"): b"\b",
    ord("f"): b"\x0c",
    ord("("): b"(",
    ord(")"): b")",
    ord("\\"): b"\\",
}


class Lexer:
    """§7.3 token scanners over one buffer, from ``pos``.

    Malformed strings are repaired, never raised on; the scanners record the
    damage only when they meet it (class defaults cover the clean case), so
    a well-formed token costs no extra attribute write."""

    unclosed_string = False  # a literal string ran to the end of the data
    hex_junk_at = -1  # a hex string held a byte neither hex nor ws: where

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.n = len(data)

    def _skip_ws(self) -> None:
        m = _WS_RE.match(self.data, self.pos)
        if m:
            self.pos = m.end()

    def next_token(self):
        """Return (kind, value) or None at EOF.

        kinds: num (float), str (bytes), name (str), kw (bytes),
               arr_open/arr_close/dict_open/dict_close (None).
        Malformed run-together numbers are returned as kind 'nums' with a
        list of floats (the repair path). Iterative (never recursive): the
        loop re-enters after skipping noise bytes. Single-method dispatch
        (the old next_token/_next_token_once split cost one extra call +
        a skip-tuple compare per token on the hottest decode loop)."""
        d = self.data
        n = self.n
        pos = self.pos
        while True:
            m = _WS_RE.match(d, pos)
            if m:
                pos = m.end()
            if pos >= n:
                self.pos = pos
                return None
            c = d[pos]
            if c == 40:  # (
                self.pos = pos
                return ("str", self._literal_string())
            if c == 60:  # <
                if pos + 1 < n and d[pos + 1] == 60:
                    self.pos = pos + 2
                    return ("dict_open", None)
                self.pos = pos
                return ("str", self._hex_string())
            if c == 62:  # >
                if pos + 1 < n and d[pos + 1] == 62:
                    self.pos = pos + 2
                    return ("dict_close", None)
                pos += 1  # stray '>' — drop
                continue
            if c == 91:  # [
                self.pos = pos + 1
                return ("arr_open", None)
            if c == 93:  # ]
                self.pos = pos + 1
                return ("arr_close", None)
            if c == 47:  # /
                self.pos = pos
                return ("name", self._name())
            if c == 123 or c == 125 or c == 41:  # braces / stray ')' — skip
                pos += 1
                continue
            # bare token: number, keyword, or operator
            m = _BARE_RE.match(d, pos)
            if m is None:  # lone delimiter byte that no branch consumed
                pos += 1
                continue
            tok = m.group()
            self.pos = m.end()
            if _NUM_RE.match(tok):
                return ("num", float(tok))
            m = _LEADING_MINUS_RE.match(tok)
            if m:  # '--12.3' -> -12.3
                return ("num", -float(m.group(1)))
            if _MALFORMED_NUM_RE.match(tok):  # '1.23-45' -> [1.23, -45.0]
                return ("nums", _split_run_together(tok))
            return ("kw", tok)

    def _literal_string(self) -> bytes:
        # '(' at pos; balanced parens, backslash escapes (PDF §7.3.4.2)
        d, n = self.data, self.n
        pos = self.pos + 1
        depth = 1
        out = bytearray()
        while pos < n:
            c = d[pos]
            pos += 1
            if c == 92:  # backslash
                if pos >= n:
                    break
                e = d[pos]
                pos += 1
                if e in _ESCAPES:
                    out += _ESCAPES[e]
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    v = e - 0x30
                    end = pos + 2
                    while pos < n and pos < end and 0x30 <= d[pos] <= 0x37:
                        v = v * 8 + d[pos] - 0x30
                        pos += 1
                    out.append(v & 0xFF)
                elif e == 10 or e == 13:  # line continuation: LF, CR, CR LF
                    if e == 13 and pos < n and d[pos] == 10:
                        pos += 1
                else:  # unknown escape: keep the char
                    out.append(e)
            elif c == 40:  # (
                depth += 1
                out.append(c)
            elif c == 41:  # )
                depth -= 1
                if depth == 0:
                    self.pos = pos
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
        self.pos = pos
        self.unclosed_string = True
        return bytes(out)

    def _hex_string(self) -> bytes:
        # '<' at pos; bytes that are not hex digits are dropped, an odd
        # digit count is padded with 0 (PDF §7.3.4.3)
        d = self.data
        start = self.pos + 1
        end = d.find(b">", start)
        if end < 0:
            end = self.n
        self.pos = end + 1
        raw = d[start:end]
        digits = raw.translate(None, _NOT_HEX)
        if len(digits) != len(raw):  # whitespace, or junk
            m = _HEX_JUNK_RE.search(raw)
            if m:
                self.hex_junk_at = start + m.start()
        if len(digits) % 2:
            digits += b"0"
        return a2b_hex(digits)

    def _name(self) -> str:
        # '/' at pos; the name runs to the next whitespace or delimiter
        m = _BARE_RE.match(self.data, self.pos + 1)
        if m is None:
            self.pos += 1
            return ""
        self.pos = m.end()
        raw = m.group()
        if b"#" in raw:  # #xx hex escapes (PDF §7.3.5)
            raw = _NAME_ESC_RE.sub(lambda e: bytes((int(e.group(1), 16),)), raw)
        return raw.decode("utf-8", "replace")


def _split_run_together(tok: bytes) -> list[float]:
    """'1.23-45-6' -> [1.23, -45.0, -6.0]; leading sign kept on the first."""
    s = tok.decode("ascii")
    # collapse any leading '-' run to one
    sign = ""
    i = 0
    while i < len(s) and s[i] in "+-":
        if s[i] == "-":
            sign = "-"
        i += 1
    body = s[i:]
    parts = body.split("-")
    out = [float(sign + parts[0])]
    out.extend(-float(p) for p in parts[1:] if p)
    return out


def tokenize(data: bytes) -> list[tuple[str, list]]:
    """Tokenize a content stream into [(operator, operands), ...].

    Inline-image payloads are skipped: ``BI``/``ID``/``EI`` are emitted as
    bare operators with no operands so the interpreter can no-op them exactly
    like the reference (stream.h:779-795).
    """
    lex = Lexer(data)
    next_token = lex.next_token
    instructions: list[tuple[str, list]] = []
    operands: list = []
    stack: list[list] = []  # open arrays/dict-item lists
    # hot path first (num/str/name operands, then operators); emit_value is
    # inlined — the closure call per operand was measurable in the decode loop
    while True:
        tok = next_token()
        if tok is None:
            break
        kind, val = tok
        if kind == "num" or kind == "str" or kind == "name":
            (stack[-1] if stack else operands).append(val)
        elif kind == "kw":
            if val == b"true":
                (stack[-1] if stack else operands).append(True)
            elif val == b"false":
                (stack[-1] if stack else operands).append(False)
            elif val == b"null":
                # reference: null params -> [] (stream_decoder.h:120-124)
                (stack[-1] if stack else operands).append([])
            else:
                op = val.decode("latin-1")
                if op == "ID":
                    # skip binary inline-image payload to the EI delimiter
                    instructions.append(("ID", []))
                    _skip_inline_image(lex)
                    instructions.append(("EI", []))
                    operands = []
                    continue
                instructions.append((op, operands))
                operands = []
        elif kind == "nums":
            for v in val:
                (stack[-1] if stack else operands).append(v)
        elif kind == "arr_open" or kind == "dict_open":
            stack.append([("__dict__",)] if kind == "dict_open" else [])
        elif kind == "arr_close":
            if stack:
                v = stack.pop()
                (stack[-1] if stack else operands).append(v)
        elif kind == "dict_close":
            if stack:
                items = stack.pop()
                items = [x for x in items if x != ("__dict__",)]
                d = {}
                for k, v in zip(items[0::2], items[1::2]):
                    try:
                        d[k] = v
                    except TypeError:
                        # malformed dict with a non-name (unhashable) key:
                        # skip the pair, keep the page (r4 review — the
                        # tokenizer repairs garbage everywhere else)
                        continue
                (stack[-1] if stack else operands).append(d)
    return instructions


def _skip_inline_image(lex: Lexer) -> None:
    d, n = lex.data, lex.n
    i = lex.pos + 1  # one whitespace byte follows ID
    relaxed = None
    while i + 1 < n:
        if d[i] == ord("E") and d[i + 1] == ord("I"):
            before_ok = i == 0 or d[i - 1] in _WHITESPACE
            after_ok = i + 2 >= n or d[i + 2] in _WHITESPACE
            if before_ok and after_ok:
                lex.pos = i + 2
                return
            if after_ok and relaxed is None:
                relaxed = i + 2  # binary ran flush into EI
        i += 1
    lex.pos = relaxed if relaxed is not None else n
