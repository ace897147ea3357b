"""The PDF lexers (``_dict_span``, ``_lit_span``, ``_pdf_unescape``) jump
by regex search instead of walking bytes one at a time, and the object
header scan (``_obj_headers``) uses two patterns instead of one. The
versions below are the reference they replaced: on random byte strings
over the significant alphabet both must return the same spans, or both
refuse with ``PdfUnsupported``."""

from __future__ import annotations

import random
import re

import pytest

from automated_property_data_ingestion_document_pipeline_spark.sources import pdf_sink
from automated_property_data_ingestion_document_pipeline_spark.sources.pdf_sink import (
    PdfUnsupported,
    _dict_span,
    _lit_span,
    _obj_headers,
    _pdf_unescape,
)


def _ref_dict_span(payload: bytes, at: int) -> int:
    i, depth, end = at, 0, min(len(payload), at + pdf_sink._MAX_DICT_BYTES)
    while i < end:
        two = payload[i : i + 2]
        if two == b"<<":
            depth += 1
            i += 2
        elif two == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return i
        elif payload[i : i + 1] == b"(":
            i += 1
            while i < end:
                c = payload[i : i + 1]
                if c == b"\\":
                    i += 2
                elif c == b")":
                    i += 1
                    break
                else:
                    i += 1
        elif payload[i : i + 1] == b"<":  # hex string
            j = payload.find(b">", i + 1)
            i = (j + 1) if j != -1 else end
        else:
            i += 1
    raise PdfUnsupported("unterminated or oversized object dictionary")


def _ref_lit_span(stream: bytes, i: int) -> tuple[bytes, int]:
    depth, j, n = 1, i + 1, len(stream)
    while j < n:
        c = stream[j]
        if c == 0x5C:
            j += 2
        elif c == 0x28:
            depth += 1
            j += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return stream[i + 1 : j], j + 1
            j += 1
        else:
            j += 1
    raise PdfUnsupported("unterminated literal string")


def _ref_pdf_unescape(raw: bytes) -> str:
    _C = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\x08", b"f": b"\x0c"}

    def sub(m: "re.Match[bytes]") -> bytes:
        g = m.group(1)
        if g[:1].isdigit():
            return bytes([int(g, 8) & 0xFF])
        if g in (b"\n", b"\r", b"\r\n"):
            return b""
        return _C.get(g, g)

    return re.sub(rb"\\([0-7]{1,3}|\r\n|.)", sub, raw, flags=re.S).decode("latin-1")


def _outcome(fn, *args):
    try:
        return fn(*args)
    except PdfUnsupported as e:
        return ("refused", str(e))


_ALPHABET = b"<>()\\" + b"<>()\\" + b"a 0\n\r7nt"


def _random_bytes(rng: random.Random) -> bytes:
    return bytes(rng.choice(_ALPHABET) for _ in range(rng.randrange(0, 40)))


def _assert_same_on_random_inputs(seed: int, cases: int) -> None:
    rng = random.Random(seed)
    for _ in range(cases):
        body = _random_bytes(rng)
        for prefix in (b"<<", b"("):
            s = prefix + body
            if prefix == b"<<":
                pair = (_outcome(_dict_span, s, 0), _outcome(_ref_dict_span, s, 0))
            else:
                pair = (_outcome(_lit_span, s, 0), _outcome(_ref_lit_span, s, 0))
            assert pair[0] == pair[1], s
        at = rng.randrange(0, len(body) + 1)
        assert _outcome(_dict_span, body, at) == _outcome(_ref_dict_span, body, at), (body, at)
        assert _pdf_unescape(body) == _ref_pdf_unescape(body), body


def test_lexers_match_byte_loop_reference_on_random_bytes():
    _assert_same_on_random_inputs(seed=11, cases=20_000)


@pytest.mark.parametrize("cap", [1, 2, 3, 5, 8])
def test_dict_span_matches_reference_with_small_cap(monkeypatch, cap):
    """A small cap puts the cap's last byte inside tokens, strings and
    escapes, so a ``<<`` or ``>>`` straddling it is exercised."""
    monkeypatch.setattr(pdf_sink, "_MAX_DICT_BYTES", cap)
    _assert_same_on_random_inputs(seed=cap, cases=4_000)


@pytest.mark.parametrize(
    "payload",
    [
        b"<< /Title (never closed >>",  # unterminated literal inside a dictionary
        b"<< /A << /B 1 >>",  # unterminated dictionary
        b"<< /T (x\\",  # backslash as the last byte
        b"<< /Pad " + b"0 " * (1 << 20) + b">>",  # dictionary over 1 MB
    ],
)
def test_dict_span_hostile_inputs_refused_typed(payload):
    with pytest.raises(PdfUnsupported, match="unterminated or oversized"):
        _dict_span(payload, 0)
    with pytest.raises(PdfUnsupported):
        _ref_dict_span(payload, 0)


@pytest.mark.parametrize("payload", [b"(never closed", b"(a (b) c", b"(x\\"])
def test_lit_span_hostile_inputs_refused_typed(payload):
    with pytest.raises(PdfUnsupported, match="unterminated literal string"):
        _lit_span(payload, 0)


def test_balanced_unescaped_parens_and_escapes():
    s = b"(a (b) c) Tj"
    assert _lit_span(s, 0) == (b"a (b) c", 9) == _ref_lit_span(s, 0)
    s = b"(\\) (x\\(y) \\\\) Tj"
    assert _lit_span(s, 0) == _ref_lit_span(s, 0) == (b"\\) (x\\(y) \\\\", 14)
    assert _pdf_unescape(b"a\\(b\\)\\\\\\101\\n") == "a(b)\\A\n"
    d = b"<< /Title (a << b) /Sub <41> /K << /X 1 >> >> tail"
    assert _dict_span(d, 0) == _ref_dict_span(d, 0) == d.index(b" tail")


def test_obj_headers_match_single_pattern_reference():
    ref = re.compile(rb"(?:^|[\r\n])(\d+)\s+(\d+)\s+obj\b")
    rng = random.Random(5)
    alphabet = [b"0", b"12", b" ", b"\r", b"\n", b"obj", b"x", b"<<"]
    for _ in range(20_000):
        s = b"".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 16)))
        spans = [(m.start(), m.end(), m.groups()) for m in _obj_headers(s)]
        assert spans == [(m.start(), m.end(), m.groups()) for m in ref.finditer(s)], s
