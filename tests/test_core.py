"""Unit tests for the pure-Python extraction core (no Spark).

Mirrors the reference's component-level stub tests
(reference ``tests/test_extraction_orchestrator.py``): outputs known by
construction, failure isolation, determinism.
"""

from webextract.corpus import make_corpus, make_pdf, write_corpus_parquet
from webextract.extract import extract_document
from webextract.heuristics import CLASS_BLOCKLIST, select_content
from webextract.htmlblocks import parse_blocks
from webextract.pdftext import extract_pdf_pages
from webextract.textnorm import join_blocks, normalize_ws

N = 1000
SEED = 42


def _truth_map(truth):
    return {t["url"]: t for t in truth}


def test_generator_deterministic():
    p1, t1 = make_corpus(200, seed=SEED)
    p2, t2 = make_corpus(200, seed=SEED)
    assert p1 == p2
    assert t1 == t2
    p3, _ = make_corpus(200, seed=7)
    assert p3 != p1


def test_generator_scale_stable_prefix():
    # row i is identical regardless of corpus size (keyed RNG)
    p1, _ = make_corpus(50, seed=SEED)
    p2, _ = make_corpus(200, seed=SEED)
    assert p1 == p2[: len(p1)]


def test_byte_identity_all_cases():
    pages, truth = make_corpus(N, seed=SEED)
    tmap = _truth_map(truth)
    seen_cases = set()
    for p in pages:
        t = tmap[p["url"]]
        seen_cases.add(t["case"])
        r = extract_document(p["html"])
        if t["expected_text"] is None:
            assert r.status != "ok", (t["case"], p["url"])
        else:
            assert r.status == "ok", (t["case"], p["url"], r.error)
            assert r.text == t["expected_text"], (t["case"], p["url"])
            exp_spans = [(s["start"], s["end"], s["kind"]) for s in t["expected_spans"]]
            assert r.spans == exp_spans, (t["case"], p["url"])
    # every scheduled case actually occurred at this corpus size
    assert {"normal", "entities", "nested", "latin1", "whitespace",
            "empty_content", "pdf", "fail_truncated", "fail_empty",
            "fail_garbage"} <= seen_cases


def test_failure_statuses():
    assert extract_document(b"").status == "empty"
    assert extract_document(b"\x80\x81\x82").status == "parse_error"
    assert extract_document(b"plain text no tags at all").status == "parse_error"
    # never raises, whatever the bytes
    assert extract_document(bytes(range(256))).status in ("parse_error", "ok")


def test_empty_content_page_is_ok():
    html = b"<html><head><title>t</title></head><body><nav><a href='/'>Home</a></nav></body></html>"
    r = extract_document(html)
    assert r.status == "ok"
    assert r.text == ""
    assert r.spans == []


def test_recrawl_same_expected_text():
    pages, truth = make_corpus(101, seed=SEED)
    tmap = _truth_map(truth)
    by_url = {}
    for p in pages:
        by_url.setdefault(p["url"], []).append(p)
    recrawled = {u: v for u, v in by_url.items() if len(v) > 1}
    assert recrawled, "corpus should contain recrawls"
    for u, rows in recrawled.items():
        exp = tmap[u]["expected_text"]
        for row in rows:
            assert extract_document(row["html"]).text == exp


def test_pdf_roundtrip():
    paras = ["Hello world paragraph one.", "Second (with) \\ parens."]
    for compress in (True, False):
        raw = make_pdf(paras, compress=compress)
        assert [p for page in extract_pdf_pages(raw) for p in page] == paras
        r = extract_document(raw)
        assert r.status == "ok" and r.content_type == "pdf"
        assert r.text == "\n\n".join(paras)


def test_normalize_ws():
    assert normalize_ws("  a\t\nb\xa0 c  ") == "a b c"
    assert normalize_ws("\n\n") == ""
    assert normalize_ws("x") == "x"


def test_join_blocks_offsets():
    text, offs = join_blocks(["ab", "", "cde"])
    assert text == "ab\n\n\n\ncde"
    assert offs == [(0, 2), (4, 4), (6, 9)]
    for (s, e), t in zip(offs, ["ab", "", "cde"]):
        assert text[s:e] == t


def test_heuristics_link_density():
    html = '<div><p><a href="/x">all of this paragraph text is one link</a></p></div>'
    blocks = parse_blocks(html, CLASS_BLOCKLIST)
    assert len(blocks) == 1
    assert select_content([blocks[0]]) == []
    html2 = "<p>A long enough ordinary paragraph with plain words and substance here.</p>"
    b2 = parse_blocks(html2, CLASS_BLOCKLIST)
    assert select_content([b2[0]]) != []


def test_heuristics_class_blocklist():
    blocks = parse_blocks('<div class="sidebar"><p>Plenty of ordinary text here that is long.</p></div>',
                          CLASS_BLOCKLIST)
    assert select_content([blocks[0]]) == []
    blocks = parse_blocks('<div class="content-main"><p>Plenty of ordinary text here that is long.</p></div>',
                          CLASS_BLOCKLIST)
    assert select_content([blocks[0]]) != []


def test_nested_candidate_merges():
    blocks = parse_blocks("<blockquote><p>Inner text of the quote block here.</p></blockquote>",
                          CLASS_BLOCKLIST)
    assert len(blocks) == 1
    assert blocks[0].kind == "quote"
    assert normalize_ws(blocks[0].raw_text) == "Inner text of the quote block here."


def test_write_corpus_parquet(tmp_path):
    pages_path, truth_path = write_corpus_parquet(str(tmp_path), 60, seed=SEED)
    import pyarrow.parquet as pq

    pt = pq.read_table(pages_path)
    tt = pq.read_table(truth_path)
    assert pt.num_rows >= 60  # recrawls add rows
    assert tt.num_rows == 60
    assert set(pt.column_names) == {"url", "warc_ts", "html", "text", "lang"}


def test_pdf_octal_and_unknown_escapes():
    """ADVICE round 1: \\8 and \\9 are unknown escapes per the PDF spec (the
    backslash drops); only \\0-\\7 start octal runs. A string containing \\8
    must parse, not route to the DLQ."""
    from webextract.pdftext import _unescape

    assert _unescape(rb"a\101b") == b"aAb"          # 3-digit octal
    assert _unescape(rb"a\10b") == b"a\x08b"        # 2-digit octal stops at b
    assert _unescape(rb"a\8b") == b"a8b"            # \8: drop backslash
    assert _unescape(rb"a\9\8z") == b"a98z"
    assert _unescape(rb"oct\0478") == b"oct'8"      # octal run is max 3 digits
    assert _unescape(rb"\n\t\(\)\\") == b"\n\t()\\"


def test_pdf_multipage_spans_map_to_pages():
    from webextract.corpus import make_pdf, paginate
    from webextract.extract import extract_document
    from webextract.pdftext import extract_pdf_pages

    paras = ["Page one first paragraph.", "Page one second.",
             "Page two opening text.", "Page two closing words."]
    for compress in (False, True):
        raw = make_pdf(paras, compress=compress, n_pages=2)
        assert extract_pdf_pages(raw) == paginate(paras, 2)
        r = extract_document(raw)
        assert r.status == "ok" and r.content_type == "pdf"
        # byte-identity of the joined text is kept; spans carry page ids
        from webextract.textnorm import join_blocks
        joined, offs = join_blocks(paras)
        assert r.text == joined
        kinds = [k for (_s, _e, k) in r.spans]
        assert kinds == ["p1", "p1", "p2", "p2"]
        # offsets slice the text back to the original paragraphs
        assert [r.text[s:e] for (s, e, _k) in r.spans] == paras
    # single-page PDFs keep working, spans say p1
    raw1 = make_pdf(paras[:2], compress=True)
    r1 = extract_document(raw1)
    assert [k for (_s, _e, k) in r1.spans] == ["p1", "p1"]
