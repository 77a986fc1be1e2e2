"""Fused parse → clean → segment for one document, with per-row failure capture.

Mirrors the reference's fused ``_ingest`` (read∘convert) plus extract
(reference ``runners/extraction/extraction_orchestrator.py:130-149,172-209``)
collapsed into one pure function, so the Spark layer can run it over Arrow
batches inside a single ``mapInArrow`` with exactly one decode of the html
bytes per document.

Failure semantics (the reference's most important invariant — a failing
document is isolated, logged, and skipped; it never kills the run:
``extraction_orchestrator.py:232-242``): this function NEVER raises. Every
outcome is a :class:`ExtractResult` with a ``status`` in:

- ``ok``          — extraction succeeded (text may legitimately be ``""``
                    only via the empty-content page… see below: that is still
                    ``ok``);
- ``empty``       — input bytes were empty;
- ``parse_error`` — undecodable bytes, non-HTML payload, or an internal error
                    (``error`` carries a stage-tagged message, cf. the DLQ
                    stage tags in reference
                    ``docs/guides/production-patterns.md:480-608``).
"""

from __future__ import annotations

import codecs
import re
from dataclasses import dataclass, field

from .fasthtml import parse_blocks_fast as parse_blocks
from .heuristics import CLASS_BLOCKLIST, select_content
from .pdftext import extract_pdf_pages, is_pdf
from .textnorm import join_blocks

# charset sniff over the raw byte prefix (ASCII-compatible encodings):
# <meta charset="..."> or <meta http-equiv=... content="text/html; charset=...">
_CHARSET_RE = re.compile(rb"""charset\s*=\s*["']?\s*([A-Za-z0-9_\-:.]+)""", re.I)
_SNIFF_BYTES = 2048

STATUS_OK = "ok"
STATUS_EMPTY = "empty"
STATUS_PARSE_ERROR = "parse_error"


@dataclass
class ExtractResult:
    text: str = ""
    spans: list[tuple[int, int, str]] = field(default_factory=list)
    status: str = STATUS_OK
    error: str | None = None
    content_type: str = "html"   # html | pdf
    n_blocks: int = 0            # content blocks kept (diagnostics/metrics)


def sniff_charset(raw: bytes) -> str | None:
    """Declared charset from the first 2 KiB, if present and resolvable."""
    m = _CHARSET_RE.search(raw[:_SNIFF_BYTES])
    if not m:
        return None
    name = m.group(1).decode("ascii", "ignore")
    try:
        return codecs.lookup(name).name
    except LookupError:
        return None


def decode_html(raw: bytes) -> str:
    """Decode per the deterministic spec: declared charset strict, else UTF-8
    strict. Raises UnicodeDecodeError on failure (caller captures it)."""
    enc = sniff_charset(raw)
    if enc is not None:
        return raw.decode(enc)  # strict
    return raw.decode("utf-8")  # strict


def extract_document(raw: bytes, *, link_density_max: float = 0.5,
                     min_chars_linked: int = 25) -> ExtractResult:
    """bytes → main text + spans. Never raises."""
    try:
        if not raw:
            return ExtractResult(status=STATUS_EMPTY, error="read: empty input")
        if is_pdf(raw):
            return _extract_pdf(raw)
        try:
            html = decode_html(raw)
        except (UnicodeDecodeError, ValueError) as e:
            return ExtractResult(status=STATUS_PARSE_ERROR, error=f"decode: {e}")
        if "<" not in html:
            return ExtractResult(status=STATUS_PARSE_ERROR, error="parse: not html")
        blocks = parse_blocks(html, CLASS_BLOCKLIST)
        content = select_content(blocks, link_density_max=link_density_max,
                                 min_chars_linked=min_chars_linked)
        texts = [t for (_k, t) in content]
        joined, offsets = join_blocks(texts)
        spans = [
            (start, end, kind)
            for (kind, _t), (start, end) in zip(content, offsets)
        ]
        return ExtractResult(
            text=joined, spans=spans, status=STATUS_OK, n_blocks=len(content)
        )
    except Exception as e:  # noqa: BLE001 — per-row isolation is the contract
        return ExtractResult(status=STATUS_PARSE_ERROR, error=f"extract: {type(e).__name__}: {e}")


def _extract_pdf(raw: bytes) -> ExtractResult:
    try:
        pages = extract_pdf_pages(raw)
    except Exception as e:  # noqa: BLE001
        return ExtractResult(
            status=STATUS_PARSE_ERROR, error=f"pdf: {type(e).__name__}: {e}",
            content_type="pdf",
        )
    if not pages:
        # image-only or truncated PDF: route to DLQ rather than emit a row
        # indistinguishable from a legitimately empty document
        return ExtractResult(
            status=STATUS_EMPTY, error="pdf: no text extracted", content_type="pdf"
        )
    # span kind carries the 1-based page number ("p1", "p2", …) so extracted
    # text maps back to its page — the identity the reference guarantees via
    # Page.page_number (reference types/document.py:38-45) and the ordered
    # Document.pages list (types/document.py:57-60)
    paragraphs = [p for page in pages for p in page]
    page_of = [pno for pno, page in enumerate(pages, 1) for _ in page]
    joined, offsets = join_blocks(paragraphs)
    spans = [(s, e, f"p{pno}") for (s, e), pno in zip(offsets, page_of)]
    return ExtractResult(
        text=joined, spans=spans, status=STATUS_OK,
        content_type="pdf", n_blocks=len(paragraphs),
    )
