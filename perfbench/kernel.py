"""In-process, single-thread timing of the extraction kernel's layers.

Runs over a fixed sample of the workload's pages, outside Spark. Each page
first goes through ``extract_document`` whole, then through the public
kernel functions one at a time, back to back, so both see the same cache
state:

- ``extract.decode_s``         decode_html (charset sniff + strict decode)
- ``fasthtml.tokenize_s``      tokenize_into driving a no-op sink
- ``htmlblocks.callbacks_s``   parse_blocks_fast minus the no-op tokenize:
                               the BlockParser callbacks' self time
- ``heuristics.select_s``      select_content
- ``textnorm.join_s``          join_blocks
- ``pdftext.pdf_s``            extract_pdf_pages (PDF payloads)
- ``sparkjob.batch_wrapper_s`` extract_batches over the pages as one pandas
                               batch minus extract_document over them in a
                               tight loop (fastest of the repeats each)

``extract.document_s`` is extract_document's own wall over the same pages;
``kernel.self_sum_ratio`` is the layers' sum over it (1.0 = fully covered).
"""

from __future__ import annotations

import time

import pyarrow.parquet as pq

SAMPLE_DOCS = 800
REPEATS = 3


class _NoopSink:
    """Stands in for BlockParser: receives tokens, does nothing."""

    def handle_starttag(self, tag, attrs):
        pass

    def handle_startendtag(self, tag, attrs):
        pass

    def handle_endtag(self, tag):
        pass

    def handle_data(self, data):
        pass


def kernel_layers(pages_path: str) -> dict[str, float]:
    import pandas as pd

    from webextract.extract import decode_html, extract_document
    from webextract.fasthtml import (FastTokenizerFallback,
                                     parse_blocks_fast, tokenize_into)
    from webextract.heuristics import CLASS_BLOCKLIST, select_content
    from webextract.pdftext import extract_pdf_pages, is_pdf
    from webextract.sparkjob import extract_batches
    from webextract.textnorm import join_blocks

    tbl = pq.read_table(pages_path, columns=["url", "warc_ts", "lang", "html"])
    tbl = tbl.slice(0, SAMPLE_DOCS)
    raws = [b or b"" for b in tbl.column("html").to_pylist()]
    batch = pd.DataFrame({c: tbl.column(c).to_pylist()
                          for c in ("url", "warc_ts", "lang")})
    batch["html"] = raws
    pc = time.perf_counter
    t = dict.fromkeys(("document", "decode", "tokenize", "parse", "select",
                       "join", "pdf"), 0.0)
    fallbacks = blocks = kept = 0
    loops = []
    for rep in range(REPEATS):
        for raw in raws:
            t0 = pc()
            extract_document(raw)
            t1 = pc()
            t["document"] += t1 - t0
            if not raw:
                continue
            if is_pdf(raw):
                extract_pdf_pages(raw)
                t["pdf"] += pc() - t1
                continue
            try:
                html = decode_html(raw)
            except (UnicodeDecodeError, ValueError):
                t["decode"] += pc() - t1
                continue
            t2 = pc()
            t["decode"] += t2 - t1
            if "<" not in html:
                continue
            try:
                tokenize_into(_NoopSink(), html)
            except FastTokenizerFallback:
                fallbacks += rep == 0
            t3 = pc()
            bl = parse_blocks_fast(html, CLASS_BLOCKLIST)
            t4 = pc()
            content = select_content(bl)
            t5 = pc()
            join_blocks([tx for (_k, tx) in content])
            t6 = pc()
            t["tokenize"] += t3 - t2
            t["parse"] += t4 - t3
            t["select"] += t5 - t4
            t["join"] += t6 - t5
            if rep == 0:
                blocks += len(bl)
                kept += len(content)
        # the wrapper's cost: one batch through extract_batches against the
        # same pages through extract_document in an equally tight loop
        t0 = pc()
        for raw in raws:
            extract_document(raw)
        t1 = pc()
        for _ in extract_batches(iter([batch])):
            pass
        loops.append((t1 - t0, pc() - t1))
    callbacks = max(0.0, t["parse"] - t["tokenize"])
    layer_sum = (t["decode"] + t["parse"] + t["select"] + t["join"]
                 + t["pdf"])
    return {
        "extract.decode_s": t["decode"] / REPEATS,
        "fasthtml.tokenize_s": t["tokenize"] / REPEATS,
        "htmlblocks.callbacks_s": callbacks / REPEATS,
        "heuristics.select_s": t["select"] / REPEATS,
        "textnorm.join_s": t["join"] / REPEATS,
        "pdftext.pdf_s": t["pdf"] / REPEATS,
        # fastest of each loop: the wrapper is ~1% of the work, below the
        # loops' run-to-run noise
        "sparkjob.batch_wrapper_s": max(0.0, min(b for _, b in loops)
                                        - min(d for d, _ in loops)),
        "extract.document_s": t["document"] / REPEATS,
        "kernel.self_sum_ratio": layer_sum / t["document"],
        "kernel.sample_docs": len(raws),
        "fasthtml.fallbacks": fallbacks,
        "htmlblocks.blocks": blocks,
        "heuristics.kept_ratio": kept / blocks if blocks else 0.0,
    }
