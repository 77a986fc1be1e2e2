"""Boilerplate classification — trafilatura/readability-style, fully specified.

This is the engine's *Extractor* stage (reference
``base/extractor/base_extractor.py:56-75``): structured document → extraction
payload. The reference leaves the extractor pluggable; the north rule pins
ours to DOM heuristics: **tag/class blocklists, link-density pruning,
text-density scoring**. Byte-identity demands the rules be total and
deterministic, so they are ordered and threshold-exact:

A block is BOILERPLATE iff (first matching rule wins):
  B1. it sits under a boilerplate container (<nav>/<header>/<footer>/<aside>)
      or under an element whose class/id matches CLASS_BLOCKLIST;
  B2. its own class/id matches CLASS_BLOCKLIST;
  B3. its normalized text is empty;
  B4. its link density (link non-ws chars / total non-ws chars) >= 0.5;
  B5. it is a short link-bearing block: total non-ws chars < MIN_CHARS and
      link_chars > 0  (kills "read more"-style stubs readability drops).
Everything else is CONTENT and keeps its kind (title/paragraph/quote).
"""

from __future__ import annotations

import re

from .htmlblocks import Block
from .textnorm import normalize_ws

# Substring-token match on class/id text (word-ish boundaries so that e.g.
# "navigation" matches via token "navigation" but "unavailable" does not).
CLASS_BLOCKLIST = re.compile(
    r"(?:^|[\s_-])("
    r"sidebar|side-bar|ads?|advert(?:isement)?s?|banner|cookie(?:-banner)?|"
    r"share(?:-buttons)?|social|menu|nav|navigation|navbar|footer|header|"
    r"comments?|promo|widget|breadcrumbs?|related|pagination|pager|popup|"
    r"modal|subscribe|newsletter|masthead|byline|meta|tags|disclaimer|legal"
    r")(?:$|[\s_-])"
)

LINK_DENSITY_MAX = 0.5   # B4: >= 0.5 is boilerplate
MIN_CHARS_LINKED = 25    # B5: shorter than this AND containing a link → drop


def _content_text(block: Block, link_density_max: float,
                  min_chars_linked: int) -> str | None:
    """Rules B1–B5 in one pass: the block's normalized text if it is
    CONTENT, None if it is BOILERPLATE. The structural rules run first, so
    a boilerplate block's text is never normalized."""
    if block.boiler_ancestor or (block.own_class
                                 and CLASS_BLOCKLIST.search(block.own_class)):
        return None
    text = normalize_ws(block.raw_text)
    total, link = block.total_chars, block.link_chars
    if (not text or (total > 0 and link / total >= link_density_max)
            or (total < min_chars_linked and link > 0)):
        return None
    return text


def select_content(blocks: list[Block], *,
                   link_density_max: float = LINK_DENSITY_MAX,
                   min_chars_linked: int = MIN_CHARS_LINKED) -> list[tuple[str, str]]:
    """Clean stage: keep content blocks, in document order.

    Returns ``[(kind, normalized_text), ...]``.
    """
    out: list[tuple[str, str]] = []
    for b in blocks:
        text = _content_text(b, link_density_max, min_chars_linked)
        if text is not None:
            out.append((b.kind, text))
    return out
