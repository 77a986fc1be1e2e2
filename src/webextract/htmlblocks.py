"""HTML → text blocks, on the stdlib only (no lxml/bs4 in this environment).

This is the engine's *Converter* stage (reference
``base/converter/base_converter.py:53-70``: bytes → structured document).
Instead of a Pydantic ``Document`` per file, it produces a list of
:class:`Block` records — the flat, columnar-friendly unit the boilerplate
heuristics score (:mod:`webextract.heuristics`).

Production parsing runs through :func:`webextract.fasthtml.parse_blocks_fast`,
a single-scan builder. :class:`BlockParser` here is its per-document
fallback and its byte-identity oracle: the stdlib tokenizer drives these
callbacks, and tests/test_fasthtml.py holds the fast path to their output.

Design notes
------------
- ``html.parser.HTMLParser`` with ``convert_charrefs=True`` decodes entities
  (named + numeric) in text callbacks, which is exactly the entity handling
  the byte-identity spec (:mod:`webextract.textnorm`) requires.
- Candidate block elements are ``h1..h6`` (title), ``p``/``pre``/``li``/``td``
  (paragraph), ``blockquote`` (quote). Text accrues to the innermost open
  candidate; a candidate nested inside another candidate merges upward on
  close (so ``<blockquote><p>..`` emits one quote block).
- Text inside ``script/style/noscript/template/title/head/svg`` is suppressed.
- Per block we record the evidence the heuristics need: own class/id, whether
  any ancestor is a boilerplate container or has a blocklisted class, and
  link vs total visible character counts (non-whitespace, for a stable link
  density).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser

# Tags whose entire subtree is invisible.
SUPPRESS_TAGS = frozenset({"script", "style", "noscript", "template", "title", "head", "svg"})

# Structural containers that mark everything inside as boilerplate.
BOILER_CONTAINER_TAGS = frozenset({"nav", "header", "footer", "aside"})

# Candidate block elements and their span kind.
BLOCK_KIND = {
    "h1": "title",
    "h2": "title",
    "h3": "title",
    "h4": "title",
    "h5": "title",
    "h6": "title",
    "p": "paragraph",
    "pre": "paragraph",
    "li": "paragraph",
    "td": "paragraph",
    "blockquote": "quote",
}

# Void elements never pushed on the stack (HTMLParser does not call
# handle_endtag for these in valid HTML).
VOID_TAGS = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input", "link", "meta",
     "param", "source", "track", "wbr"}
)


@dataclass(slots=True)
class Block:
    """One visible text block plus the evidence needed to score it.

    ``slots=True``: ~40k Blocks per Arrow batch make this one of the
    hottest allocations after stack frames; slots cut the per-instance
    dict and speed the attribute traffic in both block builders.
    """

    kind: str                      # title | paragraph | quote
    tag: str
    text_parts: list[str] = field(default_factory=list)
    link_chars: int = 0            # non-ws chars emitted while inside an <a>
    total_chars: int = 0           # non-ws chars total
    own_class: str = ""            # class + id of the block element, lowercased
    boiler_ancestor: bool = False  # under nav/header/footer/aside or blocklisted class

    @property
    def raw_text(self) -> str:
        return "".join(self.text_parts)


# Stack frame: (tag, is_boiler, block_idx_or_None). A plain tuple — this is
# the hottest allocation in the parse loop (one per element), and tuple
# construction is ~3x cheaper than any class instantiation.


class BlockParser(HTMLParser):
    """Stdlib-tokenized block builder: the fast path's fallback and oracle.

    ``class_blocklist`` is a compiled regex applied to the lowercased
    ``class``+``id`` attribute text of every element; a match marks the whole
    subtree as boilerplate (trafilatura-style tag/class blocklists).
    """

    def __init__(self, class_blocklist) -> None:
        super().__init__(convert_charrefs=True)
        self._blocklist = class_blocklist
        self.blocks: list[Block] = []
        self._stack: list[tuple[str, bool, int | None]] = []
        self._suppress = 0          # depth inside SUPPRESS_TAGS
        self._boiler_depth = 0      # depth inside boilerplate subtrees
        self._a_depth = 0           # depth inside <a>
        self._open_candidates: list[int] = []  # stack of block indices

    # -- helpers -----------------------------------------------------------
    @staticmethod
    def _class_id(attrs) -> str:
        vals = [v for (k, v) in attrs if k in ("class", "id") and v]
        return " ".join(vals).lower()

    # -- HTMLParser callbacks ---------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in VOID_TAGS:
            return
        if tag in SUPPRESS_TAGS:
            self._suppress += 1
            self._stack.append((tag, False, None))
            return

        cls = self._class_id(attrs) if attrs else ""
        is_boiler = tag in BOILER_CONTAINER_TAGS or bool(cls and self._blocklist.search(cls))
        if is_boiler:
            self._boiler_depth += 1
        if tag == "a":
            self._a_depth += 1

        block_idx: int | None = None
        if tag in BLOCK_KIND and not self._suppress:
            blk = Block(
                kind=BLOCK_KIND[tag],
                tag=tag,
                own_class=cls,
                boiler_ancestor=self._boiler_depth > 0,
            )
            self.blocks.append(blk)
            block_idx = len(self.blocks) - 1
            self._open_candidates.append(block_idx)

        self._stack.append((tag, is_boiler, block_idx))

    def handle_startendtag(self, tag, attrs):
        # <br/>-style; treat as void.
        return

    def handle_endtag(self, tag):
        # Pop up to the matching open tag (tolerates misnesting the way
        # browsers roughly do: unclosed children are closed implicitly).
        stack = self._stack
        if stack and stack[-1][0] == tag:
            # well-nested close — the overwhelmingly common case; skip the
            # reverse scan (measured ~9% of tokenize+build time)
            self._pop_frame()
            return
        for i in range(len(stack) - 1, -1, -1):
            if stack[i][0] == tag:
                while len(stack) > i:
                    self._pop_frame()
                return
        # stray end tag: ignore

    def _pop_frame(self):
        tag, boiler, block_idx = self._stack.pop()
        if tag in SUPPRESS_TAGS:
            self._suppress -= 1
            return
        if boiler:
            self._boiler_depth -= 1
        if tag == "a":
            self._a_depth -= 1
        if block_idx is not None:
            self._open_candidates.pop()
            self._merge_if_nested(block_idx)

    def _merge_if_nested(self, idx: int) -> None:
        """A candidate closing inside another candidate folds into its parent."""
        if not self._open_candidates:
            return
        parent = self.blocks[self._open_candidates[-1]]
        child = self.blocks[idx]
        parent.text_parts.extend(child.text_parts)
        parent.link_chars += child.link_chars
        parent.total_chars += child.total_chars
        child.text_parts = []
        child.total_chars = 0
        child.link_chars = 0
        child.kind = "merged"  # excluded from output

    def handle_data(self, data):
        if self._suppress or not self._open_candidates:
            return
        blk = self.blocks[self._open_candidates[-1]]
        blk.text_parts.append(data)
        # non-whitespace char count, C-speed (str.split = Unicode whitespace)
        n = sum(map(len, data.split()))
        blk.total_chars += n
        if self._a_depth > 0:
            blk.link_chars += n

    def close(self):
        super().close()
        while self._stack:
            self._pop_frame()


def parse_blocks(html_text: str, class_blocklist) -> list[Block]:
    """Parse decoded HTML into candidate blocks (boilerplate not yet removed)."""
    p = BlockParser(class_blocklist)
    p.feed(html_text)
    p.close()
    return [b for b in p.blocks if b.kind != "merged"]
