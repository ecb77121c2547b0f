"""Stage 1 tests: byte-identical extraction vs the independent oracle,
edge-case goldens, and Spark-vs-driver determinism."""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import functions as F

from clip_retrieval_spark.fixtures import PAGES_SCHEMA, gen_pages_local, pages_df
from clip_retrieval_spark.functions.text import extract_text
from clip_retrieval_spark.operators.extract import extract_pages, lang_filter

from tests.oracle import oracle_extract_text

N = 200


def test_engine_matches_oracle_bytes():
    for (url, _ts, html, _t, _lang) in gen_pages_local(N):
        assert extract_text(html) == oracle_extract_text(html), url


EDGE_CASES = {
    # malformed: unclosed tags
    b"<html><body><p>alpha <b>beta</p>": "alpha beta",
    # empty body
    b"<html><head><title></title></head><body></body></html>": "",
    # unterminated comment removes to end
    b"<p>keep</p><!-- lost forever <p>gone</p>": "keep",
    # unterminated script removes to end
    b"<p>kept</p><script>var x=1; <p>gone</p>": "kept",
    # entities (incl. numeric + double-escaped)
    b"<p>a &amp; b &#233;t&#233; &amp;lt;tag&amp;gt;</p>":
        "a & b été &lt;tag&gt;",
    # boilerplate elements dropped with content
    b"<nav>Home</nav><p>body text</p><footer>foot</footer>": "body text",
    # inline tags keep text, block tags split lines
    b"<div>one <span>two</span></div><div>three</div>": "one two\nthree",
    # whitespace canon: collapse + strip + drop empties
    b"<p>  a \t b  </p>\n\n<p> </p><p>c</p>": "a b\nc",
    # non-utf8 bytes replaced, not fatal
    b"<p>ok \xff\xfe</p>": "ok ��",
}


def test_extraction_goldens():
    for html, want in EDGE_CASES.items():
        assert extract_text(html) == want, html
        assert oracle_extract_text(html) == want, html


def test_spark_extraction_byte_identical(spark):
    pages = pages_df(spark, N)
    got = {
        r["url"]: r["text"]
        for r in extract_pages(pages).select("url", "text").collect()
    }
    assert len(got) == N
    for (url, _ts, html, _t, _lang) in gen_pages_local(N):
        assert got[url] == oracle_extract_text(html), url


def test_partitioning_invariance(spark):
    """Same rows whether generated in 1 partition or 8 (the reference's
    sequential-vs-pyspark equivalence, test_distributor.py:9-52)."""
    a = extract_pages(pages_df(spark, 50).repartition(1))
    b = extract_pages(pages_df(spark, 50).repartition(8))
    rows_a = {tuple(r) for r in a.collect()}
    rows_b = {tuple(r) for r in b.collect()}
    assert rows_a == rows_b


def test_lang_filter(spark):
    ex = extract_pages(pages_df(spark, N))
    en = lang_filter(ex).count()
    langs = {r["lang"] for r in lang_filter(ex, ("fr", "de", "es")).select("lang").distinct().collect()}
    assert en > 0 and "en" not in langs
    assert en + lang_filter(ex, ("fr", "de", "es")).count() == N


def test_null_html_gives_empty_text(spark):
    """The corrupt-row contract: a null html row is kept with text "",
    next to good rows in the same Arrow batch; url, warc_ts and lang
    pass through unchanged."""
    ts = _dt.datetime(2024, 5, 1, 12, 30, 1, 123456, tzinfo=_dt.timezone.utc)
    pages = spark.createDataFrame(
        [
            ("u-null", ts, None, None, "en"),
            ("u-good", ts, b"<p>a <b>b</b></p>", None, "fr"),
            ("u-empty", ts, b"", None, "de"),
        ],
        PAGES_SCHEMA,
    ).coalesce(1)
    ex = extract_pages(pages)
    assert ex.schema.simpleString() == (
        "struct<url:string,warc_ts:timestamp,text:string,lang:string>"
    )
    got = {
        r["url"]: (r["us"], r["text"], r["lang"])
        for r in ex.select(
            "url", F.unix_micros("warc_ts").alias("us"), "text", "lang"
        ).collect()
    }
    us = int(ts.timestamp()) * 10**6 + ts.microsecond
    assert got == {
        "u-null": (us, "", "en"),
        "u-good": (us, "a b", "fr"),
        "u-empty": (us, "", "de"),
    }
