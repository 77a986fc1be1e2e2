"""Fast HTML block builder: one regex token scan, block state inlined.

The stdlib ``html.parser`` costs ~1 ms per 13 KiB page before any block
callback runs, and tokenizing plus dispatching each token to a
``BlockParser.handle_*`` method was 84% of ``extract_document``. Here one
compiled token grammar (``_TOKEN_RE``) splits a document with a single
``re.findall``, and ``parse_blocks_fast`` builds the blocks in one loop over
the resulting tuples, holding the block state (element stack, suppress,
boilerplate and ``<a>`` context, the open candidate) in local variables.

Equivalence contract: for the document classes the engine is specified on
(the fixture grammar + benign real-world HTML), ``parse_blocks_fast``
produces byte-identical blocks to :func:`webextract.htmlblocks.parse_blocks`,
the stdlib path — enforced by tests/test_fasthtml.py over the full corpus
and a hypothesis HTML grammar. A construct the grammar cannot prove it
handles identically (a '<' no token matches, an unterminated comment, a
marked section, a script/style element with no close) becomes a BAD token,
and that document falls back to the stdlib parser — correctness never
depends on the fast path.
"""

from __future__ import annotations

import re
from html import unescape

from .htmlblocks import (BLOCK_KIND, BOILER_CONTAINER_TAGS, SUPPRESS_TAGS,
                         VOID_TAGS, Block, BlockParser, parse_blocks)

_NAME = r"[a-zA-Z][a-zA-Z0-9:._-]*"
# an attribute value; quoted values may contain '>'. As in html.parser, an
# unquoted value never starts with a quote, so `<script src='a'/>` parses
# one way only: self-closing, not a raw-text open.
_VALUE = r"""(?:"[^"]*"|'[^']*'|(?!['"])[^\s>]*)"""
_ATTRS = rf"(?:\s+[^\s/>=]+(?:\s*=\s*{_VALUE})?)*"
# html.parser's raw-text (CDATA) elements. title and textarea are parsed as
# normal markup by the stdlib, so here too.
_RAW_NAME = r"(?i:script|style)(?![a-zA-Z0-9:._-])"

# Every input position belongs to exactly one alternative, so findall walks
# the document contiguously; each match is a tuple of the seven groups.
# A raw-text element is one token up to the stdlib's own close
# (set_cdata_mode's `</\s*tag\s*>`, case-insensitive): the FIRST one ends
# the element, near-misses like `</script/>` do not, `</ script>` does. A
# raw-text start tag with no close may not match as a start tag, so it
# reaches BAD, as do an unterminated comment, a marked section (`<![`) and
# any other '<'. BAD swallows the rest of the document: that document falls
# back anyway, and no later token is scanned.
_TOKEN_RE = re.compile(
    rf"""([^<]+)                                        # 1 text
      | </({_NAME})\s*>                                 # 2 end tag
      | <({_RAW_NAME}){_ATTRS}\s*>.*?</\s*(?i:\3)\s*>   # 3 raw-text element
      | <(?!{_RAW_NAME}{_ATTRS}\s*>)                    #   start tag: 4 name,
          ({_NAME})({_ATTRS})\s*(/?)\s*>                #   5 attrs, 6 self-close
      | <!--.*?--\s*>                                   #   comment
      | <!(?!--|\[)[^>]*> | <\?[^>]*>                   #   declaration, PI
      | (<.*)                                           # 7 BAD
    """,
    re.S | re.X,
)

_ATTR_RE = re.compile(rf"([^\s/>=]+)(?:\s*=\s*({_VALUE}))?", re.S)
_NO_ATTRS: list[tuple[str, str | None]] = []
_class_id = BlockParser._class_id


class FastTokenizerFallback(Exception):
    """Raised when the input has constructs we route to the stdlib parser."""


def _tokens(html: str) -> list[tuple[str, ...]]:
    """The document's token tuples; raises on a BAD token (the one
    fallback rule). BAD consumes the rest of the input, so it is last."""
    toks = _TOKEN_RE.findall(html)
    if toks and toks[-1][6]:
        raise FastTokenizerFallback(
            f"unparseable markup at {len(html) - len(toks[-1][6])}")
    return toks


def _attrs_classid(a: str) -> list[tuple[str, str | None]]:
    """A start tag's class/id (name, value) pairs, unquoted and
    entity-decoded as html.parser gives them, in attribute order.

    Block building consumes nothing but class/id, so the other attributes
    are never unquoted or decoded.
    """
    # a class/id attribute name always contains one of these; a false
    # positive (e.g. "width") only costs the full attribute parse
    la = a.lower()
    if "class" not in la and "id" not in la:
        return _NO_ATTRS
    out = []
    for m in _ATTR_RE.finditer(a):
        name = m.group(1).lower()
        if name != "class" and name != "id":
            continue
        v = m.group(2)
        if v is not None:
            if v[:1] in ("'", '"'):
                v = v[1:-1]
            if "&" in v:
                v = unescape(v)
        out.append((name, v))
    return out


def tokenize_into(sink, html: str) -> None:
    """Drive ``sink``'s BlockParser-style ``handle_*`` callbacks over ``html``.

    Walks the same token tuples as :func:`parse_blocks_fast`, so it raises
    :class:`FastTokenizerFallback` on exactly the documents that function
    sends to the stdlib parser. Text is entity-decoded; comments,
    declarations and processing instructions are not reported; a raw-text
    element reports its start and end tag (without attributes) and no body.
    """
    handle_data = sink.handle_data
    for text, end, raw, tag, attrs, selfclose, _bad in _tokens(html):
        if text:
            handle_data(unescape(text) if "&" in text else text)
        elif tag:
            handle = sink.handle_startendtag if selfclose else sink.handle_starttag
            handle(tag.lower(), _attrs_classid(attrs))
        elif end:
            sink.handle_endtag(end.lower())
        elif raw:
            raw = raw.lower()
            sink.handle_starttag(raw, _NO_ATTRS)
            sink.handle_endtag(raw)


def parse_blocks_fast(html: str, class_blocklist) -> list[Block]:
    """parse_blocks in one token scan; stdlib fallback per document.

    A candidate opened inside another candidate always closes first and
    merges into it (``BlockParser._merge_if_nested``), so all candidate
    text lands, in document order, in the OUTERMOST open candidate ``cur``:
    nested candidates never become blocks here. Each stack frame holds the
    state from before its element opened; closing an element restores it,
    which is what popping every frame above it one by one amounts to.
    Raw-text, void and self-closing elements never touch the stack.
    """
    try:
        toks = _tokens(html)
    except FastTokenizerFallback:
        return parse_blocks(html, class_blocklist)
    search = class_blocklist.search
    blocks: list[Block] = []
    stack: list[tuple] = []   # (tag, suppressed, in_boiler, in_a, cur)
    suppressed = in_boiler = in_a = False
    cur: Block | None = None
    for text, end, _raw, tag, attrs, selfclose, _bad in toks:
        if text:
            if cur is not None and not suppressed:
                if "&" in text:
                    text = unescape(text)
                cur.text_parts.append(text)
                # non-whitespace char count (str.split = Unicode whitespace)
                n = sum(map(len, text.split()))
                cur.total_chars += n
                if in_a:
                    cur.link_chars += n
        elif tag:
            if selfclose:
                continue
            tag = tag.lower()
            if tag in VOID_TAGS:
                continue
            stack.append((tag, suppressed, in_boiler, in_a, cur))
            if tag in SUPPRESS_TAGS:
                suppressed = True
                continue
            cls = _class_id(_attrs_classid(attrs)) if attrs else ""
            if tag in BOILER_CONTAINER_TAGS or (cls and search(cls)):
                in_boiler = True
            if tag == "a":
                in_a = True
            elif cur is None and not suppressed and tag in BLOCK_KIND:
                cur = Block(BLOCK_KIND[tag], tag, [], 0, 0, cls, in_boiler)
                blocks.append(cur)
        elif end:
            end = end.lower()
            # pop up to the matching open tag; a stray end tag is ignored
            k = len(stack) - 1
            while k >= 0 and stack[k][0] != end:
                k -= 1
            if k >= 0:
                _, suppressed, in_boiler, in_a, cur = stack[k]
                del stack[k:]
    return blocks
