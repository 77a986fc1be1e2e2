"""Canonical text normalization — the shared spec behind byte-identity.

The north rule requires extracted main text to be *byte-identical* per url
against fixtures. That is only well-defined if the normalization rules are a
single, precise spec used both by the fixture generator (which knows which
blocks are content) and by the extractor (which must infer it). This module
IS that spec:

1. HTML entities are decoded before normalization (the parser does this via
   ``convert_charrefs``; the generator calls :func:`normalize_ws` on already
   decoded text).
2. Any run of Unicode whitespace (including NBSP, tabs, newlines) collapses
   to a single ASCII space.
3. Leading/trailing whitespace is stripped per block.
4. Block texts are joined with exactly ``"\\n\\n"``; span offsets index into
   the joined string by Python ``str`` (code point) positions.

Mirrors the reference's convention that extraction output is plain decoded
text (cf. reference ``types/document.py:18-21`` TextData.content: str).
"""

from __future__ import annotations

BLOCK_JOINER = "\n\n"


def normalize_ws(text: str) -> str:
    """Collapse whitespace runs to single spaces and strip the ends.

    ``" ".join(text.split())`` is the C-speed implementation of the spec;
    verified equivalent to ``re.sub(r"\\s+", " ", text).strip()`` over every
    whitespace codepoint (both use the Unicode whitespace property).
    """
    return " ".join(text.split())


def join_blocks(texts: list[str]) -> tuple[str, list[tuple[int, int]]]:
    """Join normalized block texts with BLOCK_JOINER; return (text, offsets).

    Offsets are ``(start, end)`` code-point positions of each block in the
    joined string (``end`` exclusive), suitable for the ``spans`` column.
    """
    spans: list[tuple[int, int]] = []
    pos = 0
    parts: list[str] = []
    for i, t in enumerate(texts):
        if i > 0:
            pos += len(BLOCK_JOINER)
        spans.append((pos, pos + len(t)))
        pos += len(t)
        parts.append(t)
    return BLOCK_JOINER.join(parts), spans
