"""Streaming session windows (session_window + watermark) over the
extraction stream — the streaming twin of relops.sessionize / q42.

Append-mode finalization is the same contract as the tumbling-window test:
batch 1 emits nothing (watermark at epoch), batch 2's later event times
finalize batch 1's sessions.
"""

import os

from pyspark.sql import functions as F

from webextract.corpus import write_corpus_parquet
from webextract.streaming import start_session_stream


def test_session_stream_finalizes_per_url_bursts(spark, tmp_path):
    land = str(tmp_path / "landing")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(land)

    gen = str(tmp_path / "gen")
    write_corpus_parquet(gen, 2600, seed=5)
    all_pages = spark.read.parquet(f"{gen}/web_pages.parquet")
    early = all_pages.filter(F.col("warc_ts") < "2025-01-01 03:00:00")
    late = all_pages.filter(F.col("warc_ts") > "2025-01-01 09:00:00")
    n_early_ok_urls = early.count()
    assert n_early_ok_urls > 0 and late.count() > 0
    early.coalesce(1).write.parquet(f"{land}/b1.parquet")

    q = start_session_stream(spark, land, out, ckpt, key="url",
                             gap="30 minutes", watermark="30 minutes",
                             available_now=True)
    q.awaitTermination(180)

    late.coalesce(1).write.parquet(f"{land}/b2.parquet")
    q = start_session_stream(spark, land, out, ckpt, key="url",
                             gap="30 minutes", watermark="30 minutes",
                             available_now=True)
    q.awaitTermination(180)

    s = spark.read.parquet(out)
    finalized = s.filter(F.col("session_start") < "2025-01-01 03:00:00")
    rows = finalized.collect()
    assert rows
    # every finalized early doc is in exactly one session
    got = finalized.agg(F.sum("docs")).first()[0] or 0
    assert got == n_early_ok_urls, (got, n_early_ok_urls)
    for r in rows:
        # session_window end is exclusive: last event + gap
        assert (r.session_end - r.session_start).total_seconds() >= 30 * 60
        assert r.docs >= 1
    # no url has two finalized sessions closer than the gap (merge semantics)
    pairs = (finalized.alias("a").join(finalized.alias("b"), "url")
             .filter(F.col("a.session_start") < F.col("b.session_start"))
             .filter(F.col("b.session_start") < F.col("a.session_end"))
             .count())
    assert pairs == 0
