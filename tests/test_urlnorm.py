"""URL canonicalization unit cases (q55 oracle-checks the same op
byte-for-byte against a DuckDB reimplementation over landed corpus urls)."""

from webextract.urlnorm import canonical_url

CASES = [
    # scheme+host lowercased, default port stripped, tracking params
    # dropped, params sorted, fragment dropped
    ("HTTP://Ex.ORG:80/a?utm_source=x&b=1&a=2#frag", "http://ex.org/a?a=2&b=1"),
    ("https://ex.org:443/", "https://ex.org/"),
    ("https://ex.org:8443/x", "https://ex.org:8443/x"),   # non-default kept
    ("http://ex.org", "http://ex.org/"),                  # path defaults to /
    ("http://ex.org/p?utm_campaign=z&fbclid=1&gclid=2", "http://ex.org/p"),
    ("http://ex.org/p?z=1&a=", "http://ex.org/p?a=&z=1"), # empty value kept
    ("http://ex.org/A/B?x=1#f", "http://ex.org/A/B?x=1"), # path case kept
]


def test_canonical_url_cases(spark):
    df = spark.createDataFrame([(u,) for u, _ in CASES], "url string")
    got = [r["canonical_url"] for r in
           df.withColumn("canonical_url", canonical_url("url")).collect()]
    for (raw, want), g in zip(CASES, got):
        assert g == want, (raw, g, want)


def test_canonical_is_idempotent(spark):
    df = spark.createDataFrame([(u,) for u, _ in CASES], "url string")
    once = df.withColumn("canonical_url", canonical_url("url")).select(
        "canonical_url").withColumnRenamed("canonical_url", "url")
    twice = [r["canonical_url"] for r in
             once.withColumn("canonical_url", canonical_url("url")).collect()]
    assert twice == [w for _, w in CASES]


def test_fragment_query_not_promoted(spark):
    # a '?' INSIDE the fragment must not become a canonical query string
    df = spark.createDataFrame([("http://ex.org/p#frag?x=1",),
                                ("http://ex.org/p",)], "url string")
    got = {r["url"]: r["canonical_url"]
           for r in df.withColumn("canonical_url", canonical_url("url")).collect()}
    assert got["http://ex.org/p#frag?x=1"] == "http://ex.org/p"
    assert got["http://ex.org/p"] == "http://ex.org/p"


def test_tracking_matched_by_param_name_not_prefix(spark):
    # gclid_custom is NOT gclid (name must match exactly); UTM_SOURCE IS
    # utm_* (names compare case-insensitively); values never matter
    df = spark.createDataFrame(
        [("http://ex.org/p?gclid_custom=1&UTM_SOURCE=x&a=1&fbclid=2",),
         ("http://ex.org/p?b=utm_source",)], "url string")
    got = {r["url"]: r["canonical_url"]
           for r in df.withColumn("canonical_url", canonical_url("url")).collect()}
    assert got["http://ex.org/p?gclid_custom=1&UTM_SOURCE=x&a=1&fbclid=2"] \
        == "http://ex.org/p?a=1&gclid_custom=1"
    assert got["http://ex.org/p?b=utm_source"] == "http://ex.org/p?b=utm_source"
