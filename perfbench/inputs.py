"""Seeded workload inputs and their fingerprints.

Every input a workload reads is generated here from ``--seed`` before the
session starts; the program under test only ever sees the written files.
The extraction corpora come from ``webextract.corpus``; the curate text
table is generated by this module alone.
A fingerprint (sha256 over the logical rows) of what was generated is
compared against ``fingerprints.json``, so a change to the generator code
cannot silently change a workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

# workload sizes (docs/rows); see README.md for how they were chosen
EXTRACT_DOCS, EXTRACT_SCALE, EXTRACT_ROW_GROUP = 6000, 2, 100
# the resumable run of extract's traced run
RESUME_DOCS, RESUME_BUCKETS, RESUME_WAVES = 600, 6, 3
CURATE_DOCS = 300

# canary: a small fixed-seed generation checked on every run, so a
# generator change is caught even for seeds without a recorded fingerprint
CANARY_SEED, CANARY_DOCS = 1, 300


def _hash_tables(paths: list[str]) -> str:
    """sha256 over each table's rows in Arrow IPC form (schema and values;
    independent of the parquet file layout)."""
    h = hashlib.sha256()
    for p in paths:
        sink = pa.BufferOutputStream()
        t = pq.read_table(p).combine_chunks()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(sink.getvalue())
    return h.hexdigest()


def corpus(out_dir: str, n: int, seed: int, scale: int = 1,
           row_group_rows: int = 1000) -> dict:
    from webextract.corpus import write_corpus_parquet

    pages, truth = write_corpus_parquet(out_dir, n, seed=seed,
                                        content_scale=scale,
                                        row_group_rows=row_group_rows)
    meta = pq.ParquetFile(pages).metadata
    html_bytes = sum(len(b) for b in pq.read_table(pages, columns=["html"])
                     .column("html").to_pylist())
    return {"pages": pages, "truth": truth, "rows": meta.num_rows,
            "html_bytes": html_bytes, "files": [pages, truth]}


# ---------------------------------------------------------------------------
# curate: pre-extracted text with planted duplicates
# ---------------------------------------------------------------------------

_VOCAB = (
    "river stone market bridge garden harbor winter signal copper lantern "
    "meadow engine archive canyon ferry orchard island velvet thunder "
    "compass pillar summit glacier falcon meadowlark quarry timber cobalt "
    "beacon prairie saddle cedar marble tunnel violet ember willow basalt "
    "clock mirror harvest anchor ribbon castle forest desert ocean valley "
    "planet rocket silver golden hollow shadow breeze candle feather "
    "journey kingdom ladder needle orbit puzzle rhythm spiral temple "
    "umbrella voyage wander yellow zenith atlas bramble cinder drift "
    "ember fable glimmer hearth ivory jasper kelp lumen mosaic nectar "
    "opal pebble quill rustic sable tidal utopia vessel wicker yarrow "
    "the a of and to in is for on with as by at from that this it was "
    "are be or an have has had not but what all were when we there can"
).split()
_LANGS = ["en", "es", "de", "fr"]
_EPOCH = datetime(2025, 1, 1)


def _doc(r: random.Random, lo: int = 40, hi: int = 60) -> str:
    return " ".join(r.choice(_VOCAB) for _ in range(r.randint(lo, hi)))


def _edit(text: str, member: int) -> str:
    """Near-duplicate number ``member`` of ``text``: one appended,
    member-specific word. Members differ from the original and from each
    other, yet every pair sits far above curate's 0.8 word-bigram Jaccard,
    so each cluster is a clique and label propagation's round count does
    not depend on the seed."""
    return f"{text} variant{member}"


def curate_rows(n: int, seed: int) -> tuple[list[dict], dict]:
    """``n`` base documents plus planted recrawls, exact duplicates,
    near-duplicate clusters (sizes 2-6 and one of 60 members) and gate
    failures. Returns (rows, planted counts)."""
    r = random.Random(f"perfbench-curate|{seed}")
    rows: list[dict] = []

    def add(url: str, text: str, i: int, day: int = 0, status: str = "ok"):
        rows.append({"url": url, "warc_ts": _EPOCH + timedelta(seconds=31 * i,
                                                               days=day),
                     "lang": _LANGS[i % 4], "text": text, "status": status})

    texts = [_doc(r) for _ in range(n)]
    for i, t in enumerate(texts):
        add(f"https://site{i % 37}.example/doc-{i:06d}", t, i)
    planted = {"recrawls": 0, "exact_dups": 0, "near_members": 0,
               "gate_drops": 0, "not_ok": 0}
    # recrawls: same url, a day later, same text (resolved to one row)
    for i in range(0, n, 40):
        add(f"https://site{i % 37}.example/doc-{i:06d}", texts[i], i, day=1)
        planted["recrawls"] += 1
    # exact duplicates: the same text under another url
    for j, i in enumerate(range(7, n, 25)):
        add(f"https://mirror{j % 5}.example/copy-{j:06d}", texts[i], n + j)
        planted["exact_dups"] += 1
    # near-duplicate clusters: each member is a small edit of its root
    sizes = [2 + (k % 5) for k in range(n // 60)] + [60]
    for c, size in enumerate(sizes):
        root = texts[(13 + 29 * c) % n]
        for m in range(1, size):
            add(f"https://near{c}.example/v-{m:04d}", _edit(root, m),
                2 * n + 100 * c + m)
            planted["near_members"] += 1
    # gate failures: too short, and a repetition loop
    for j in range(n // 100):
        add(f"https://spam.example/short-{j}", "buy now", 3 * n + j)
        add(f"https://spam.example/loop-{j}", "click here now " * 40,
            3 * n + j)
        planted["gate_drops"] += 2
    # rows that did not extract
    for j in range(n // 200):
        add(f"https://broken.example/p-{j}", "", 4 * n + j, status="parse_error")
        planted["not_ok"] += 1
    return rows, planted


def curate_table(out_dir: str, n: int, seed: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    rows, planted = curate_rows(n, seed)
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("lang", pa.string()), ("text", pa.string()),
                        ("status", pa.string())])
    path = os.path.join(out_dir, "extracted.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path,
                   row_group_size=500)
    return {"pages": path, "rows": len(rows), "planted": planted,
            "files": [path]}


def _extract_inputs(out_dir: str, seed: int, n: int, n_resume: int) -> dict:
    inp = corpus(os.path.join(out_dir, "pages"), n, seed, EXTRACT_SCALE,
                 EXTRACT_ROW_GROUP)
    inp["resume"] = corpus(os.path.join(out_dir, "resume"), n_resume, seed)
    inp["files"] += inp["resume"]["files"]
    return inp


def generate(workload: str, out_dir: str, seed: int) -> dict:
    if workload == "extract":
        return _extract_inputs(out_dir, seed, EXTRACT_DOCS, RESUME_DOCS)
    if workload == "curate":
        return curate_table(out_dir, CURATE_DOCS, seed)
    raise ValueError(f"unknown workload {workload!r}")


def fingerprint(inputs: dict) -> str:
    return _hash_tables(inputs["files"])


def canary_fingerprint(workload: str, out_dir: str) -> str:
    """Fingerprint of a small fixed-seed generation with the workload's
    generator (same parameters, fewer rows)."""
    d = os.path.join(out_dir, "canary")
    if workload == "extract":
        inp = _extract_inputs(d, CANARY_SEED, CANARY_DOCS, CANARY_DOCS)
    else:
        inp = curate_table(d, CANARY_DOCS, CANARY_SEED)
    return fingerprint(inp)


def check(workload: str, seed: int, inputs: dict, out_dir: str) -> str | None:
    """None if the inputs match the recorded fingerprints, else why not."""
    with open(FINGERPRINTS) as f:
        rec = json.load(f).get(workload, {})
    got = canary_fingerprint(workload, out_dir)
    if got != rec.get("canary"):
        return f"{workload}: canary fingerprint {got[:12]} != recorded"
    want = rec.get("seeds", {}).get(str(seed))
    if want is not None:
        got = fingerprint(inputs)
        if got != want:
            return f"{workload}: seed {seed} fingerprint {got[:12]} != recorded"
    return None
