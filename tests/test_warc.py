"""WARC source adapter: write standards-shaped archives, read them back
through the binaryFile + mapInPandas path, and run the full extraction on
top — byte identity must survive the WARC round trip."""

import datetime as dt
import os

from pyspark.sql import functions as F

from webextract.warc import iter_warc_records, read_warc, write_warc

T0 = dt.datetime(2025, 1, 1, 12, 0, 0)


def _records(n, prefix="http://ex.org/p"):
    return [(f"{prefix}{i}", T0 + dt.timedelta(seconds=i),
             f"<html><body><p>doc {i} body text</p></body></html>".encode())
            for i in range(n)]


def test_roundtrip_plain_and_gzip(tmp_path):
    recs = _records(5)
    for name in ("a.warc", "b.warc.gz"):
        p = str(tmp_path / name)
        write_warc(p, recs)
        got = list(iter_warc_records(open(p, "rb").read()))
        assert [(u, ts) for u, ts, _ in got] == [(u, ts) for u, ts, _ in recs]
        assert [h for _, _, h in got] == [h for _, _, h in recs]


def test_truncated_archive_keeps_prior_records(tmp_path):
    p = str(tmp_path / "t.warc")
    write_warc(p, _records(3))
    raw = open(p, "rb").read()
    got = list(iter_warc_records(raw[:len(raw) - 40]))  # cut into record 3
    assert len(got) == 2


def test_read_warc_to_extraction_byte_identity(spark, tmp_path):
    # pages from the corpus generator → WARC archives → read_warc →
    # extract_df: extracted text must be byte-identical to the direct path
    from webextract.corpus import write_corpus_parquet
    from webextract.sparkjob import extract_df, split_errors

    gen = str(tmp_path / "gen")
    write_corpus_parquet(gen, 120, seed=9)
    pages = spark.read.parquet(f"{gen}/web_pages.parquet")
    rows = pages.select("url", "warc_ts", "html").collect()
    wdir = tmp_path / "warcs"
    os.makedirs(wdir)
    # two archives, one gzipped — the unsplittable shape
    half = len(rows) // 2
    write_warc(str(wdir / "c1.warc"),
               [(r.url, r.warc_ts, bytes(r.html)) for r in rows[:half]])
    write_warc(str(wdir / "c2.warc.gz"),
               [(r.url, r.warc_ts, bytes(r.html)) for r in rows[half:]])

    back = read_warc(spark, str(wdir))
    assert back.count() == len(rows)
    ok_w, _ = split_errors(extract_df(back))
    ok_d, _ = split_errors(extract_df(pages, repartition=False))
    diff = (ok_w.select("url", "text").alias("w")
            .join(ok_d.select("url", "text").alias("d"), "url", "full")
            .filter((F.col("w.text") != F.col("d.text"))
                    | F.col("w.text").isNull() | F.col("d.text").isNull())
            .count())
    assert diff == 0 and ok_w.count() == ok_d.count()


def test_fractional_second_warc_date(tmp_path):
    # WARC/1.1 tools emit fractional seconds; they must parse, not collapse
    # to the epoch fallback
    p = str(tmp_path / "f.warc")
    write_warc(p, _records(1))
    raw = open(p, "rb").read().replace(
        b"WARC-Date: 2025-01-01T12:00:00Z",
        b"WARC-Date: 2025-01-01T12:00:00.123456Z")
    assert raw.count(b".123456Z") == 1
    # adjust the header Content-Length? WARC-Date is a header line, not
    # payload — lengths are unaffected
    got = list(iter_warc_records(raw))
    assert got[0][1] == dt.datetime(2025, 1, 1, 12, 0, 0, 123456)


def test_malformed_warc_date_yields_null_ts(tmp_path):
    from datetime import datetime

    from webextract.warc import iter_warc_records, write_warc

    p = str(tmp_path / "a.warc")
    write_warc(p, [("http://ex.org/1", datetime(2024, 1, 2), b"<p>x</p>")])
    raw = open(p, "rb").read().replace(b"2024-01-02T00:00:00Z", b"not-a-date!!!!!!!!!!")
    recs = list(iter_warc_records(raw))
    assert len(recs) == 1
    url, ts, html = recs[0]
    assert ts is None and url == "http://ex.org/1" and html == b"<p>x</p>"
