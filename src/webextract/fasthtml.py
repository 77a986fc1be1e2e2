"""Fast HTML tokenizer: regex-driven, feeding the SAME BlockParser callbacks.

The stdlib ``html.parser`` costs ~1 ms per 13 KiB page before our callbacks
run; at 10^12 documents tokenization is the single hottest loop in the
engine. This module re-implements only the *tokenizer* — start/end tags,
comments, declarations, raw-text elements, entity-decoded text — and drives
the unchanged :class:`webextract.htmlblocks.BlockParser` callback methods, so
block-building semantics (candidate stack, merging, boilerplate evidence)
have exactly one implementation.

Equivalence contract: for the document classes the engine is specified on
(the fixture grammar + benign real-world HTML), ``parse_blocks_fast`` must
produce byte-identical blocks to the stdlib path — enforced by
tests/test_fasthtml.py over the full corpus and a hypothesis HTML grammar.
Inputs with constructs the fast tokenizer cannot prove it handles
identically (unterminated tags/comments) fall back to the stdlib parser for
that document — correctness never depends on the fast path.
"""

from __future__ import annotations

import re
from html import unescape

from .htmlblocks import Block, BlockParser

# tag name + attributes; quoted attr values may contain '>'
_TAG_RE = re.compile(
    r"""<(?:
        (?P<end>/(?P<endtag>[a-zA-Z][a-zA-Z0-9:._-]*)\s*>)
      | (?P<comment>!--.*?--\s*>)
      | (?P<decl>![^>]*>)
      | (?P<pi>\?[^>]*>)
      | (?P<start>(?P<starttag>[a-zA-Z][a-zA-Z0-9:._-]*)
           (?P<attrs>(?:\s+[^\s/>=]+(?:\s*=\s*(?:"[^"]*"|'[^']*'|[^\s>]*))?)*)
           \s*(?P<selfclose>/?)\s*>)
    )""",
    re.S | re.X,
)

_ATTR_RE = re.compile(
    r"""([^\s/>=]+)(?:\s*=\s*("[^"]*"|'[^']*'|[^\s>]*))?""", re.S)

# raw-text (CDATA) elements: content runs to the matching close tag, no
# markup inside. Exactly html.parser's CDATA_CONTENT_ELEMENTS — title and
# textarea are parsed as normal markup by the stdlib, so here too.
# The close pattern is the stdlib's own (set_cdata_mode's `interesting`):
# the FIRST `</\s*tag\s*>` ends the element; near-misses like `</script/>`
# or `</script foo>` are NOT closes (stdlib scans past them as data, which
# BlockParser suppresses) while `</ script>` IS one. Using the identical
# regex keeps the fast path byte-faithful without a fallback.
_RAWTEXT = {"script", "style"}
_RAW_CLOSE = {t: re.compile(rf"</\s*{t}\s*>", re.I) for t in _RAWTEXT}

_HAS_AMP = "&"


class FastTokenizerFallback(Exception):
    """Raised when the input has constructs we route to the stdlib parser."""


def _parse_attrs_classid(s: str) -> list[tuple[str, str | None]]:
    """A start tag's (name, value) attribute pairs, unquoted and
    entity-decoded as html.parser gives them, keeping only class/id pairs.

    BlockParser consumes nothing but class/id (``htmlblocks._class_id``), so
    dropping the rest here is invisible to block building and skips the
    unescape/strip work for href/src/etc. Relative order of the kept pairs is
    preserved (``_class_id`` joins values in attribute order).
    """
    out = []
    for m in _ATTR_RE.finditer(s):
        name = m.group(1).lower()
        if name != "class" and name != "id":
            continue
        v = m.group(2)
        if v is None:
            out.append((name, None))
            continue
        if v[:1] in ("'", '"'):
            v = v[1:-1]
        if _HAS_AMP in v:
            v = unescape(v)
        out.append((name, v))
    return out


_NO_ATTRS: list[tuple[str, str | None]] = []

# numeric group ids: m.group(int) skips the name->index dict lookup in the
# hottest loop of the engine (measured ~3% of tokenize time)
_GI = _TAG_RE.groupindex
_G_START, _G_ATTRS, _G_SELF = _GI["starttag"], _GI["attrs"], _GI["selfclose"]
_G_END, _G_DECL = _GI["endtag"], _GI["decl"]


def tokenize_into(p: BlockParser, html: str) -> None:
    """Drive BlockParser's handle_* callbacks over ``html``.

    The scan is ``finditer``-driven (one C-level pass) rather than
    find('<') + match-at-position per tag — interleaved best-of-9 A/B on
    the corpus measured it ~10% faster end-to-end. Matches that start
    inside an already-consumed region (raw-text bodies) are skipped by the
    ``s < i`` guard; any '<' that finditer did NOT match surfaces in an
    inter-match text segment and falls back, same contract as the
    positional loop. One deliberate widening of the fallback set: a
    comment that OPENS inside a raw-text body and closes after the
    close tag (``<script>x <!-- </script><p>y -->``) is consumed by the
    comment match, so the tags it hides trigger the text-segment fallback
    — the stdlib path then parses that document (byte-identical by
    construction; raw text runs to the first close tag in both parsers).
    """
    i = 0
    n = len(html)
    find = html.find
    handle_data = p.handle_data
    handle_starttag = p.handle_starttag
    handle_endtag = p.handle_endtag
    for m in _TAG_RE.finditer(html):
        s = m.start()
        if s < i:
            continue  # inside a consumed raw-text body
        if s > i:
            text = html[i:s]
            if "<" in text:
                # stray '<' the tag grammar could not match — the stdlib
                # parser's recovery here is intricate (partial tags,
                # EOF-in-tag). Don't guess: fall back.
                raise FastTokenizerFallback(
                    f"unparseable markup at {find('<', i)}")
            handle_data(unescape(text) if _HAS_AMP in text else text)
        g = m.group
        starttag = g(_G_START)
        i = m.end()
        if starttag is not None:
            tag = starttag.lower()
            a = g(_G_ATTRS)
            # Only class/id reach BlockParser; a real class/id attribute
            # always contains these substrings, so this gate has no false
            # negatives (false positives — e.g. "width" contains "id" — just
            # take the slow parse and stay correct).
            if a and ("class" in a or "id" in a):
                attrs = _parse_attrs_classid(a)
            else:
                attrs = _NO_ATTRS
            if g(_G_SELF):
                p.handle_startendtag(tag, attrs)
                continue
            handle_starttag(tag, attrs)
            if tag in _RAWTEXT:
                c = _RAW_CLOSE[tag].search(html, i)
                if c is None:
                    raise FastTokenizerFallback(f"unterminated <{tag}>")
                # raw text is NOT entity-decoded by the stdlib parser either,
                # but BlockParser suppresses it entirely; skip past the
                # stdlib-exact close match
                handle_endtag(tag)
                i = c.end()
        else:
            endtag = g(_G_END)
            if endtag is not None:
                handle_endtag(endtag.lower())
            elif g(_G_DECL) is not None:
                if html[s + 1:s + 4] == "!--":
                    # `<!--` fell through to the decl branch only because
                    # the comment never closes with `--\s*>` (stdlib
                    # _commentclose semantics); the stdlib's unterminated-
                    # comment EOF recovery is intricate — don't guess,
                    # fall back.
                    raise FastTokenizerFallback(f"unterminated comment at {s}")
                if html[s + 1:s + 3] == "![":
                    # marked section (<![CDATA[..]]>, <![if..]> …): the
                    # stdlib scans to `]]>`/`]>` by section keyword (so the
                    # body may contain '>', which our decl regex would stop
                    # at) and even raises on unknown keywords — don't
                    # replicate, fall back.
                    raise FastTokenizerFallback(f"marked section at {s}")
            # else: comment / declaration / processing instruction — invisible
    if i < n:
        text = html[i:]
        if "<" in text:
            raise FastTokenizerFallback(
                f"unparseable markup at {find('<', i)}")
        handle_data(unescape(text) if _HAS_AMP in text else text)


def parse_blocks_fast(html: str, class_blocklist) -> list[Block]:
    """parse_blocks with the fast tokenizer; stdlib fallback per document."""
    p = BlockParser(class_blocklist)
    try:
        tokenize_into(p, html)
        p.close()
    except FastTokenizerFallback:
        from .htmlblocks import parse_blocks

        return parse_blocks(html, class_blocklist)
    return [b for b in p.blocks if b.kind != "merged"]
