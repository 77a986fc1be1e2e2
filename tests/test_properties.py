"""Property-based tests (hypothesis): total-function and spec invariants.

The reference has no property tests; these harden the per-row-isolation
contract (extract NEVER raises — reference semantic
``extraction_orchestrator.py:232-242``) against adversarial bytes the fixture
grammar can't enumerate.
"""

from hypothesis import given, settings, strategies as st

from webextract.extract import extract_document
from webextract.pdftext import extract_pdf_pages
from webextract.textnorm import join_blocks, normalize_ws


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=4096))
def test_extract_never_raises(raw):
    r = extract_document(raw)
    assert r.status in ("ok", "empty", "parse_error")
    if r.status != "ok":
        assert r.error
    # spans always index into text
    for (s, e, kind) in r.spans:
        assert 0 <= s <= e <= len(r.text)
        assert kind in ("title", "paragraph", "quote")


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=2000))
def test_extract_never_raises_on_textish_html(s):
    r = extract_document(f"<html><body><p>{s}</p></body></html>".encode())
    assert r.status in ("ok", "empty", "parse_error")


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=500))
def test_normalize_ws_idempotent_and_clean(s):
    n = normalize_ws(s)
    assert normalize_ws(n) == n            # idempotent
    assert n == n.strip()
    assert "  " not in n                   # no runs survive
    assert not any(c.isspace() and c != " " for c in n)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(alphabet=st.characters(blacklist_categories=("Cs",)),
                        max_size=50), max_size=10))
def test_join_blocks_spans_slice_back(texts):
    joined, offs = join_blocks(texts)
    assert len(offs) == len(texts)
    for (s, e), t in zip(offs, texts):
        assert joined[s:e] == t


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=2048))
def test_pdf_extractor_total_on_garbage(raw):
    # any bytes after the magic must not crash the PDF path
    out = [p for page in extract_pdf_pages(b"%PDF-1.4\n" + raw) for p in page]
    assert isinstance(out, list)
