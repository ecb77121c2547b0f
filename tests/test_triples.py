"""Stage 2 tests: triple P/R >= 0.95 vs oracle (it should be 1.0 on the
synthetic corpus), span correctness, determinism."""

from __future__ import annotations

import datetime as _dt
from collections import Counter

from pyspark.sql import functions as F

from clip_retrieval_spark.fixtures import PAGES_SCHEMA, gen_pages_local, pages_df
from clip_retrieval_spark.functions.text import extract_text, extract_triples
from clip_retrieval_spark.operators.extract import extract_pages
from clip_retrieval_spark.operators.triples import (
    extract_and_triples_df,
    extract_triples_df,
)

from tests.oracle import oracle_extract_text, oracle_extract_triples

N = 200


def _oracle_triple_set(n):
    out = set()
    for (url, _ts, html, _t, _lang) in gen_pages_local(n):
        for (_sid, s, p, o) in oracle_extract_triples(oracle_extract_text(html)):
            out.add((url, s, p, o))
    return out


def test_spark_triples_pr_vs_oracle(spark):
    triples = extract_triples_df(extract_pages(pages_df(spark, N)))
    got = {
        (r["url"], r["subj"], r["pred"], r["obj"])
        for r in triples.select("url", "subj", "pred", "obj").collect()
    }
    want = _oracle_triple_set(N)
    inter = len(got & want)
    precision = inter / max(len(got), 1)
    recall = inter / max(len(want), 1)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall


def test_triple_spans_index_tokens():
    text = "Acme Corp acquired Beta Systems."
    (sid, s, p, o, s1, e1, s2, e2) = extract_triples(text)[0]
    assert (sid, s, p, o) == (0, "Acme Corp", "acquired", "Beta Systems")
    assert (s1, e1, s2, e2) == (0, 2, 3, 5)


def test_triple_unit_cases():
    cases = {
        # copula + preposition pattern
        "Globex is based in Springfield.":
            [("Globex", "is based in", "Springfield")],
        # -ed heuristic verb outside lexicon
        "Initech donated Umbrella Labs.":
            [("Initech", "donated", "Umbrella Labs")],
        # stopword singleton is not a subject
        "The Acme Corp acquired Globex.":
            [("The Acme Corp", "acquired", "Globex")],
        # gap too long -> no triple
        "Acme one two three four five six Globex.": [],
        # gap containing a non-lowercase-alpha token -> no triple
        "Acme xQ7 acquired Globex.": [],
        # two triples, one sentence each
        "Acme owns Globex. Hooli backs Initech.":
            [("Acme", "owns", "Globex"), ("Hooli", "backs", "Initech")],
    }
    for text, want in cases.items():
        got = [(s, p, o) for (_sid, s, p, o, *_sp) in extract_triples(text)]
        assert got == want, (text, got)
        got_o = [(s, p, o) for (_sid, s, p, o) in oracle_extract_triples(text)]
        assert got_o == want, (text, got_o)


def test_sent_ids_monotonic_per_page():
    text = extract_text(gen_pages_local(3)[1][2])
    sids = [t[0] for t in extract_triples(text)]
    assert sids == sorted(sids)


_TS = _dt.datetime(2024, 5, 1, 12, 30, 1, 123456,
                   tzinfo=_dt.timezone(_dt.timedelta(hours=5)))
_TRIPLES_TYPE = (
    "struct<url:string,warc_ts:timestamp,sent_id:int,subj:string,"
    "pred:string,obj:string,subj_span:array<int>,obj_span:array<int>>"
)


def _both_paths(pages):
    return (
        extract_and_triples_df(pages),
        extract_triples_df(extract_pages(pages)),
    )


def test_zero_triple_batch_is_empty_and_typed(spark):
    rows = [
        (f"u{i}", _TS, b"<p>no capitals, so no triples.</p>", None, "en")
        for i in range(5)
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1)
    for df in _both_paths(pages):
        assert df.schema.simpleString() == _TRIPLES_TYPE
        assert df.collect() == []


def test_null_input_rows_yield_no_triples(spark):
    """Corrupt rows (null html, null text) next to good ones in one
    batch: no error, no triples for them, the good row's triple kept."""
    pages = spark.createDataFrame(
        [
            ("u-null", _TS, None, None, "en"),
            ("u-good", _TS, b"<p>Acme Corp acquired Beta Systems.</p>", None,
             "en"),
            ("u-null2", _TS, None, None, "en"),
        ],
        PAGES_SCHEMA,
    ).coalesce(1)
    for df in _both_paths(pages):
        got = [(r["url"], r["subj"], r["obj"]) for r in df.collect()]
        assert got == [("u-good", "Acme Corp", "Beta Systems")]
    texts = spark.createDataFrame(
        [("u-null", _TS, None), ("u-good", _TS, "Acme owns Globex.")],
        "url string, warc_ts timestamp, text string",
    ).coalesce(1)
    got = [(r["url"], r["pred"]) for r in extract_triples_df(texts).collect()]
    assert got == [("u-good", "owns")]


def test_warc_ts_round_trips_as_utc(spark):
    pages = spark.createDataFrame(
        [(f"u{i}", _TS + _dt.timedelta(days=i), b"<p>Acme owns Globex.</p>",
          None, "en") for i in range(3)],
        PAGES_SCHEMA,
    )
    want = {
        f"u{i}": int((_TS + _dt.timedelta(days=i)).timestamp()) * 10**6
        + _TS.microsecond
        for i in range(3)
    }
    for df in _both_paths(pages):
        got = {
            r["url"]: r["us"]
            for r in df.select("url", F.unix_micros("warc_ts").alias("us"))
            .collect()
        }
        assert got == want


def test_spans_are_int_arrays_equal_to_the_spec(spark):
    n = 60
    want = Counter(
        (url, sid, s1, e1, s2, e2)
        for (url, _ts, html, _t, _lang) in gen_pages_local(n)
        for (sid, _s, _p, _o, s1, e1, s2, e2) in extract_triples(
            extract_text(html)
        )
    )
    for df in _both_paths(pages_df(spark, n)):
        assert df.schema["subj_span"].dataType.simpleString() == "array<int>"
        assert df.schema["obj_span"].dataType.simpleString() == "array<int>"
        got = Counter(
            (r["url"], r["sent_id"], *r["subj_span"], *r["obj_span"])
            for r in df.collect()
        )
        assert got == want
