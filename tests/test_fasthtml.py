"""Fast-tokenizer equivalence: byte-identical blocks vs the stdlib parser."""

from hypothesis import given, settings, strategies as st

from webextract import fasthtml
from webextract.corpus import make_corpus
from webextract.extract import decode_html, extract_document
from webextract.fasthtml import (FastTokenizerFallback, parse_blocks_fast,
                                 tokenize_into)
from webextract.heuristics import CLASS_BLOCKLIST
from webextract.htmlblocks import BlockParser, parse_blocks


def _blocks_sig(blocks):
    return [(b.kind, b.tag, b.raw_text, b.link_chars, b.total_chars,
             b.own_class, b.boiler_ancestor) for b in blocks]


def test_equivalence_on_full_corpus():
    pages, _ = make_corpus(800, seed=42)
    checked = 0
    for p in pages:
        raw = p["html"]
        if not raw or raw[:5] == b"%PDF-":
            continue
        try:
            html = decode_html(raw)
        except Exception:
            continue
        slow = _blocks_sig(parse_blocks(html, CLASS_BLOCKLIST))
        fast = _blocks_sig(parse_blocks_fast(html, CLASS_BLOCKLIST))
        assert fast == slow, p["url"]
        checked += 1
    assert checked > 700


def test_equivalence_heavy_pages():
    pages, _ = make_corpus(60, seed=9, content_scale=10)
    for p in pages:
        raw = p["html"]
        if not raw or raw[:5] == b"%PDF-":
            continue
        try:
            html = decode_html(raw)
        except Exception:
            continue
        assert _blocks_sig(parse_blocks_fast(html, CLASS_BLOCKLIST)) == \
            _blocks_sig(parse_blocks(html, CLASS_BLOCKLIST))


# hypothesis grammar over benign HTML (the engine's specified input class)
_word = st.text(alphabet="abcdefg &<", min_size=0, max_size=12)
_cls = st.sampled_from(["", "sidebar", "content", "menu x", "a_b-c"])
# markup the single scan must skip or swallow whole: comments, void and
# self-closing tags, raw-text bodies holding markup
_leaf = st.one_of(
    _word.map(lambda w: f"<!--{w}-->"),
    st.sampled_from(["<br>", "<BR/>", '<img src="/i.png">', "<hr/>",
                     '<span class="sidebar"/>', "<p/>", "<script/>",
                     "<style media='x'/>"]),
    st.tuples(st.sampled_from(["script", "style", "SCRIPT", "Style"]),
              _word).map(lambda t: f"<{t[0]}>{t[1]}<p>{t[1]}</p></{t[0]}>"),
)


def _case(draw, name):
    return name.upper() if draw(st.booleans()) else name


@st.composite
def _element(draw, depth=0):
    tag = draw(st.sampled_from(
        ["p", "div", "h1", "blockquote", "li", "nav", "footer", "span",
         "article", "ul", "td", "pre"]))
    cls = draw(_cls)
    attrs = f' {_case(draw, "class")}="{cls}"' if cls else ""
    ident = draw(_cls)
    if ident:
        id_attr = f' {_case(draw, "id")}="{ident}"'
        attrs = attrs + id_attr if draw(st.booleans()) else id_attr + attrs
    if depth < 2 and draw(st.booleans()):
        inner = "".join(draw(st.lists(
            st.one_of(_element(depth=depth + 1), _leaf), max_size=3)))
    else:
        inner = draw(_word).replace("<", "&lt;")
    link = draw(st.booleans())
    if link:
        inner = f'<a href="/x">{inner}</a>'
    return f"<{_case(draw, tag)}{attrs}>{inner}</{_case(draw, tag)}>"


@settings(max_examples=200, deadline=None)
@given(st.lists(_element(), max_size=6), _word)
def test_equivalence_on_generated_html(elements, tail):
    html = ("<html><head><title>t</title><script>var a = '<p>';</script></head>"
            "<body>" + "".join(elements) + tail.replace("<", "&lt;")
            + "</body></html>")
    assert _blocks_sig(parse_blocks_fast(html, CLASS_BLOCKLIST)) == \
        _blocks_sig(parse_blocks(html, CLASS_BLOCKLIST))


def test_fallback_on_pathological_markup():
    # unterminated tag: fast path must fall back, not diverge
    html = "<html><body><p>text here</p><div <broken"
    fast = parse_blocks_fast(html, CLASS_BLOCKLIST)
    slow = parse_blocks(html, CLASS_BLOCKLIST)
    assert _blocks_sig(fast) == _blocks_sig(slow)


def test_extract_document_unchanged():
    """extract_document output stays byte-identical after wiring the fast path."""
    pages, truth = make_corpus(400, seed=42)
    tmap = {t["url"]: t for t in truth}
    for p in pages:
        t = tmap[p["url"]]
        r = extract_document(p["html"])
        if t["expected_text"] is None:
            assert r.status != "ok"
        else:
            assert r.text == t["expected_text"]


def test_comment_close_matches_stdlib():
    """ADVICE round 1: the fast comment regex must end comments exactly where
    stdlib's _commentclose (--\\s*>) does, incl. whitespace closes and --!>
    non-closes; unterminated comments fall back rather than guess."""
    cases = [
        "<p><!--a-- >b--></p>",       # stdlib closes at '-- >' → 'b-->' is text
        "<p><!--a--!>b--></p>",       # '--!>' does NOT close; swallows b
        "<p><!-- c --  > tail</p>",   # whitespace between -- and >
        "<p>a<!--x--!-->b</p>",
        "<p><!---></p><p>t</p>",
        "<p><!----></p><p>t</p>",
        "<p><!--a--x-->b</p>",
        "<p><!--unterminated and <b>more</b></p>",  # fallback path
        "<p><!-->x</p>",
    ]
    for html in cases:
        assert _blocks_sig(parse_blocks_fast(html, CLASS_BLOCKLIST)) == \
            _blocks_sig(parse_blocks(html, CLASS_BLOCKLIST)), html


def test_rawtext_comment_spanning_close_matches_stdlib():
    """A comment OPENING inside a raw-text body and closing after the close
    tag: the raw-text token runs to the FIRST close tag, as in the stdlib,
    so the tags after it are parsed on the fast path and the comment's
    tail is ordinary text."""
    cases = [
        # comment swallows </script> and a following <p>
        "<div><script>x <!-- </script><p>hi --> ok</p><p>tail</p></div>",
        # same shape for <style>
        "<p>a</p><style>s <!-- </style><p>b --> c</p>",
        # benign raw-text comment fully inside the body (stays on fast path)
        "<p>a</p><script>x <!-- y --> z</script><p>b</p>",
        # close tag inside the comment is still the raw-text terminator
        "<script><!-- </script> --><p>q</p>",
    ]
    for html in cases:
        fast = parse_blocks_fast(html, CLASS_BLOCKLIST)
        slow = parse_blocks(html, CLASS_BLOCKLIST)
        assert _blocks_sig(fast) == _blocks_sig(slow), html


def test_rawtext_close_is_stdlib_exact():
    """r5c review findings: the raw-text close must be the stdlib's OWN
    pattern (set_cdata_mode's `</\\s*tag\\s*>`): near-miss closes like
    </script/> or </script foo> do NOT end the element (stdlib scans past
    them as suppressed data), while </ script> and </script > DO. Marked
    sections (<![CDATA[..]]>, <![if..]>) take the stdlib fallback — their
    ]]>-scanned bodies may contain '>'."""
    cases = [
        "<b><p> <script></script/>y--</script\t>",
        "<p>a<script>x</script/>hidden</script>b</p>",
        "<p>a<script>x</script foo>hidden</script>b</p>",
        "<p>a<script>x</ script>b</p>",
        "<p>a<script>x</ SCRIPT >b</p>",
        "<p>a<script>x</scriptx></script>b</p>",
        "<p>a<style>s</style/>h</style>b</p>",
        "<p>a<script>x</script >b</p>",
        "<li><![CDATA[y -->",
        "<p>a<![CDATA[x]]>b</p>",
        "<p>a<![CDATA[x > y]]>b</p>",
        "<p>a<![if !IE]>x<![endif]>b</p>",
    ]
    for html in cases:
        fast = parse_blocks_fast(html, CLASS_BLOCKLIST)
        slow = parse_blocks(html, CLASS_BLOCKLIST)
        assert _blocks_sig(fast) == _blocks_sig(slow), html


# single-scan edge cases: each must give the stdlib's blocks
_EDGE_CASES = [
    # mixed-case raw-text pairs; the body's markup stays hidden
    "<p>a<SCRIPT>x<p>y</p></script>b</p>",
    "<p>a<Style>s<p>t</p></STYLE>b</p>",
    "<p>a<sCrIpT type='t'>x</ScRiPt >b</p><p>c</p>",
    # a longer name is an ordinary element, not raw text
    "<p>a<scriptx>b</scriptx>c</p>",
    "<div><stylex><p>kept</p></stylex></div>",
    # self-closed raw-text tags open no raw text
    "<p>a<script/><b>b</b></p><p>c</p>",
    "<script src='x.js'/><p>t</p><li>u</li>",
    "<script src='x.js'/><p>a</p><script>x</script><p>b</p>",
    # unterminated raw text (falls back)
    "<p>a</p><style>b<p>c</p>",
    "<p>a</p><SCRIPT>x",
    # quoted class/id values holding '>', '<' or an entity
    '<p class="a>b">x</p><p>y</p>',
    "<p class='x<y' id=\"side&amp;bar\">t</p>",
    '<div class="nav>"><p>x</p></div>',
    '<p id="a&amp;b" class="sidebar">q</p>',
    # upper-case attribute names
    '<p ID="Nav">x</p>',
    '<P CLASS="sidebar">y</P><p Id="main">z</p>',
    # a stray '<' at the end of the input (falls back)
    "<p>text<",
    "<p>a</p><",
    # entities in text outside every candidate
    "&amp; lead<p>x &amp; y</p>&amp;mid<div>&lt;b&gt;</div>",
    # the document ends in bare text, inside and outside a candidate
    "<p>a</p>tail text &amp; more",
    "<li>open to the end &amp; <a href='/x'>beyond",
]


def test_single_scan_edge_cases_match_stdlib():
    for html in _EDGE_CASES:
        assert _blocks_sig(parse_blocks_fast(html, CLASS_BLOCKLIST)) == \
            _blocks_sig(parse_blocks(html, CLASS_BLOCKLIST)), html


class _NoopSink:
    def handle_starttag(self, tag, attrs):
        pass

    def handle_startendtag(self, tag, attrs):
        pass

    def handle_endtag(self, tag):
        pass

    def handle_data(self, data):
        pass


def test_tokenize_into_raises_exactly_where_parse_blocks_fast_falls_back(
        monkeypatch):
    """tokenize_into and parse_blocks_fast share one grammar and one
    fallback rule. Where the scan succeeds, tokenize_into driving a
    BlockParser gives the stdlib's blocks."""
    fell_back = []

    def stdlib(html, class_blocklist):
        fell_back.append(html)
        return parse_blocks(html, class_blocklist)

    monkeypatch.setattr(fasthtml, "parse_blocks", stdlib)
    pages, _ = make_corpus(800, seed=42)
    docs = list(_EDGE_CASES)
    for page in pages:
        raw = page["html"]
        if not raw or raw[:5] == b"%PDF-":
            continue
        try:
            docs.append(decode_html(raw))
        except (UnicodeDecodeError, ValueError):
            continue
    assert len(docs) > 700
    raised = []
    for html in docs:
        fell_back.clear()
        try:
            tokenize_into(_NoopSink(), html)
        except FastTokenizerFallback:
            raised.append(html)
            parse_blocks_fast(html, CLASS_BLOCKLIST)
            assert fell_back == [html], html
            continue
        parse_blocks_fast(html, CLASS_BLOCKLIST)
        assert fell_back == [], html
        p = BlockParser(CLASS_BLOCKLIST)
        tokenize_into(p, html)
        p.close()
        assert _blocks_sig(b for b in p.blocks if b.kind != "merged") == \
            _blocks_sig(parse_blocks(html, CLASS_BLOCKLIST)), html
    assert set(raised) == {"<p>a</p><style>b<p>c</p>", "<p>a</p><SCRIPT>x",
                           "<p>text<", "<p>a</p><"}
