"""Tokenizer unit tests — syntax coverage + the malformed-number repair rules
(reference: src/parse/qpdf/stream_decoder.h:45-47,120-174)."""

from docling_parse_spark.pdf.tokenizer import tokenize


def ops(data):
    return tokenize(data if isinstance(data, bytes) else data.encode())


def test_basic_text_ops():
    ins = ops(b"BT /F1 12 Tf 72 720 Td (Hello) Tj ET")
    assert [i[0] for i in ins] == ["BT", "Tf", "Td", "Tj", "ET"]
    assert ins[1][1] == ["F1", 12.0]
    assert ins[2][1] == [72.0, 720.0]
    assert ins[3][1] == [b"Hello"]


def test_tj_array_with_kerning():
    ins = ops(b"[(He) -120 (llo) 30 (!)] TJ")
    assert ins[0][0] == "TJ"
    assert ins[0][1][0] == [b"He", -120.0, b"llo", 30.0, b"!"]


def test_literal_string_escapes():
    ins = ops(rb"(a\(b\)c \\ \n \101) Tj")
    assert ins[0][1][0] == b"a(b)c \\ \n A"


def test_nested_parens():
    ins = ops(b"(a(b)c) Tj")
    assert ins[0][1][0] == b"a(b)c"


def test_hex_string():
    ins = ops(b"<48 65 6C6C6F> Tj <486> Tj")
    assert ins[0][1][0] == b"Hello"
    assert ins[1][1][0] == b"\x48\x60"  # odd digit padded with 0


def test_malformed_number_split():
    # '1.23-45' is two numbers: 1.23 and -45 (stream_decoder.h repair)
    ins = ops(b"1.23-45 Td")
    assert ins[0][1] == [1.23, -45.0]


def test_malformed_double_minus():
    ins = ops(b"--12.3 0 Td")
    assert ins[0][1] == [-12.3, 0.0]


def test_malformed_triple_chain():
    ins = ops(b"10-20-30 cm_x")
    assert ins[0][1] == [10.0, -20.0, -30.0]


def test_null_becomes_empty_array():
    ins = ops(b"null Tj")
    assert ins[0][1] == [[]]


def test_comment_skipped():
    ins = ops(b"% a comment\n(z) Tj")
    assert ins[0][1] == [b"z"]


def test_dict_operand():
    ins = ops(b"<< /Type /Page /N 3 >> BDC")
    assert ins[0][0] == "BDC"
    assert ins[0][1][0] == {"Type": "Page", "N": 3.0}


def test_inline_image_skipped():
    ins = ops(b"(a) Tj BI /W 2 /H 2 ID \x00\xff\x00\xffEI (b) Tj")
    names = [i[0] for i in ins]
    assert "ID" in names and "EI" in names
    assert ins[-1][1] == [b"b"]


def test_name_with_hex_escape():
    ins = ops(b"/A#20B Do")
    assert ins[0][1] == ["A B"]


def test_negative_and_real_numbers():
    ins = ops(b"-1.5 .25 +3 4. Td_x")
    assert ins[0][1] == [-1.5, 0.25, 3.0, 4.0]


def _random_literal(rng):
    """-> (token bytes, closed?) — a balanced body of plain bytes, escapes,
    octal, CR/LF continuations and nested/escaped parens, then closed,
    left open, left open inside an extra nesting level, or cut after a
    lone backslash."""
    pieces = [b"a", b"Z", b" ", b"\x00", b"\xe9", b"\r", b"\n", b"%", b"<", b">",
              b"/", b"[", b"\\n", b"\\r", b"\\t", b"\\b", b"\\f", b"\\(", b"\\)",
              b"\\\\", b"\\q", b"\\7", b"\\53", b"\\101", b"\\777", b"\\0015",
              b"\\\r", b"\\\n", b"\\\r\n", b"\\\n\r"]

    def body(depth):
        out = b""
        for _ in range(rng.randrange(8)):
            if depth < 3 and rng.random() < 0.15:
                out += b"(" + body(depth + 1) + b")"
            else:
                out += rng.choice(pieces)
        return out

    b = b"(" + body(0)
    end = rng.randrange(4)
    if end == 0:
        return b + b")", True
    if end == 1:
        return b, False
    if end == 2:
        return b + b"(" + body(1) + b")", False
    return b + b"\\", False


def _random_hex(rng):
    """-> (token bytes, clean?) — hex digits of either case and odd counts,
    PDF whitespace, sometimes a byte that is neither; closed or cut."""
    chars = b"0123456789abcdefABCDEF \t\r\n\x0c\x00"
    digits = bytes(rng.choice(chars) for _ in range(rng.randrange(10)))
    clean = True
    if rng.random() < 0.3:
        i = rng.randrange(len(digits) + 1)
        digits = digits[:i] + bytes([rng.choice(b"gQz.(/%+-\xff")]) + digits[i:]
        clean = False
    return b"<" + digits + (b">" if rng.random() < 0.8 else b""), clean


def _random_name(rng):
    """-> token bytes — a name with #xx escapes, truncated #x at the end,
    non-hex after #, and raw high bytes; ended by a delimiter or EOF."""
    pieces = [b"A", b"z", b"1", b"-", b".", b"#20", b"#41", b"#e9", b"#2F", b"#",
              b"#4", b"#zz", b"#g1", b"\xc3\xa9", b"\xff"]
    name = b"/" + b"".join(rng.choice(pieces) for _ in range(rng.randrange(6)))
    return name + rng.choice([b"", b" ", b"/B", b"(x)", b"<00>", b"[", b"%c"])


def test_file_and_content_lexers_agree():
    """The file layer's object parser and the content-stream tokenizer scan
    the same §7.3 tokens: equal values wherever the file parser returns; it
    raises ValueError exactly for an unterminated literal string or a hex
    string holding a byte that is neither hex nor whitespace; the tokenizer
    repairs both and never raises."""
    import random

    import pytest

    from docling_parse_spark.pdf.file import _Lexer
    from docling_parse_spark.pdf.tokenizer import Lexer

    rng = random.Random(20260418)
    kinds = {"str": 0, "name": 0, "raise": 0}
    for _ in range(6000):
        pick = rng.randrange(3)
        if pick == 0:
            tok, ok = _random_literal(rng)
        elif pick == 1:
            tok, ok = _random_hex(rng)
        else:
            tok, ok = _random_name(rng), True
        tok = rng.choice([b"", b" ", b"\r\n\t", b"%note\n", b"% a\r \x00"]) + tok
        kind, val = Lexer(tok).next_token()
        assert kind == ("name" if pick == 2 else "str"), tok
        if ok:
            assert _Lexer(tok).parse_object() == val, tok
        else:
            with pytest.raises(ValueError):
                _Lexer(tok).parse_object()
            kinds["raise"] += 1
        kinds[kind] += 1
    assert min(kinds.values()) > 500, kinds
