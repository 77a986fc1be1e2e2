"""Minimal PDF text extraction on the stdlib (no pypdf/fitz in this env).

The reference treats PDF parsing as a pluggable Converter implementation
(reference ``base/converter/base_converter.py:53-70``; PDF/OCR named at
``docs/concepts/overview.md``). Here we implement the smallest deterministic
subset sufficient for text-based PDFs:

- object streams located via ``stream``/``endstream`` markers;
- ``/FlateDecode`` streams inflated with :mod:`zlib` (uncompressed streams
  used as-is);
- text collected from ``BT … ET`` blocks: every ``(string) Tj`` and
  ``[(s1) -250 (s2)] TJ`` show operator, strings unescaped per the PDF spec
  (octal + named escapes), latin-1 interpreted (v1: no font /Encoding or CID
  handling — out of scope, matching the fixture generator).

One ``BT … ET`` block = one output paragraph, whitespace-normalized via
:func:`webextract.textnorm.normalize_ws`.
"""

from __future__ import annotations

import re
import zlib

from .textnorm import normalize_ws

PDF_MAGIC = b"%PDF-"

_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.S)
_BT_ET_RE = re.compile(rb"BT(.*?)ET", re.S)
# (string) Tj  |  (string) '  |  [(a) -250 (b)] TJ
_TJ_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)\s*(?:Tj|')|\[((?:\\.|[^\]])*?)\]\s*TJ", re.S)
_ARRAY_STR_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)", re.S)

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\x0c",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def is_pdf(raw: bytes) -> bool:
    return raw[:5] == PDF_MAGIC


def _unescape(s: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(s)
    while i < n:
        c = s[i:i + 1]
        if c != b"\\":
            out += c
            i += 1
            continue
        nxt = s[i + 1:i + 2]
        if nxt in _ESCAPES:
            out += _ESCAPES[nxt]
            i += 2
        elif nxt and nxt in b"01234567":  # octal digits only: \8 \9 are
            j = i + 1                     # unknown escapes (backslash drops)
            while j < min(i + 4, n) and s[j:j + 1] in b"01234567":
                j += 1
            out.append(int(s[i + 1:j], 8) & 0xFF)
            i = j
        else:  # line continuation or unknown escape: drop the backslash
            i += 1
    return bytes(out)


def _decode_stream(body: bytes, preceding: bytes) -> bytes:
    """Inflate if the object dict before the stream declares FlateDecode."""
    if b"/FlateDecode" in preceding:
        return zlib.decompress(body)
    return body


def extract_pdf_pages(raw: bytes) -> list[list[str]]:
    """One entry per PAGE, each a list of normalized paragraphs.

    Page identity rule of this minimal subset: each decodable content
    stream that yields at least one text block is one page, in document
    order (the fixture generator emits exactly one content stream per
    /Page object; streams with no text — fonts, images — are not pages).
    1-based page numbers are the list index + 1, matching the reference's
    validated ``Page.page_number`` field (reference
    ``types/document.py:38-45``; ``Document.pages`` ordering
    ``types/document.py:57-60``).
    """
    pages: list[list[str]] = []
    for m in _STREAM_RE.finditer(raw):
        # the object dictionary sits between the previous object start and
        # the `stream` keyword; 512 bytes of lookback is ample for our dicts
        dict_region = raw[max(0, m.start() - 512):m.start()]
        try:
            content = _decode_stream(m.group(1), dict_region)
        except zlib.error:
            continue  # not a content stream we understand
        paragraphs: list[str] = []
        for bt in _BT_ET_RE.finditer(content):
            pieces: list[bytes] = []
            for tm in _TJ_RE.finditer(bt.group(1)):
                if tm.group(1) is not None:
                    pieces.append(_unescape(tm.group(1)))
                else:
                    for am in _ARRAY_STR_RE.finditer(tm.group(2)):
                        pieces.append(_unescape(am.group(1)))
            if pieces:
                text = normalize_ws(b"".join(pieces).decode("latin-1"))
                if text:
                    paragraphs.append(text)
        if paragraphs:
            pages.append(paragraphs)
    return pages
