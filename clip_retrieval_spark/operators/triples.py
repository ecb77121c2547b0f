"""Stage 2 — OpenIE-style triple extraction.

flatMap-shaped ``mapInPandas`` (one input page -> many triple rows)
applying TRIPLE SPEC v1 (clip_retrieval_spark.functions.text).
The reference has no UDTF; its nearest shape is the batched mapper whose
output batch length differs from input (dropped rows,
reference clip_inference/reader.py:187-189) — here we emit MORE rows
instead of fewer, the Spark-native explode pattern.

Narrow (no shuffle). Output keyed by (url, sent_id, spans) — fully
deterministic given the input row, so stage reruns are idempotent.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from clip_retrieval_spark.functions.text import extract_text, extract_triples

TRIPLES_FIELDS = (
    "url string, warc_ts timestamp, sent_id int, subj string, pred string, "
    "obj string, subj_span array<int>, obj_span array<int>"
)


def _triples(df: DataFrame, col: str, to_text) -> DataFrame:
    """(url, warc_ts, ``col``) -> triples of ``to_text(col)``: the one
    emitter behind both stage-2 operators."""

    def _emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # column-wise accumulation: pandas builds a frame from
            # per-column lists without the row-tuple transpose
            urls, tss, sids = [], [], []
            subjs, preds, objs, sspans, ospans = [], [], [], [], []
            for url, ts, value in zip(
                pdf["url"].tolist(), pdf["warc_ts"], pdf[col].tolist()
            ):
                for (sid, subj, pred, obj, s1, e1, s2, e2) in extract_triples(
                    to_text(value)
                ):
                    urls.append(url)
                    tss.append(ts)
                    sids.append(sid)
                    subjs.append(subj)
                    preds.append(pred)
                    objs.append(obj)
                    sspans.append([s1, e1])
                    ospans.append([s2, e2])
            yield pd.DataFrame(
                {
                    "url": urls, "warc_ts": tss, "sent_id": sids,
                    "subj": subjs, "pred": preds, "obj": objs,
                    "subj_span": sspans, "obj_span": ospans,
                }
            )

    return df.select("url", "warc_ts", col).mapInPandas(
        _emit, schema=TRIPLES_FIELDS
    )


def extract_triples_df(extracted: DataFrame) -> DataFrame:
    """(url, text, ...) -> triples(url, sent_id, subj, pred, obj, spans)."""
    return _triples(extracted, "text", lambda t: t or "")


def extract_and_triples_df(pages: DataFrame) -> DataFrame:
    """Fused Stage 1+2: html -> triples in ONE Python pass.

    Crossing the JVM/Python Arrow boundary is the dominant fixed cost of
    the narrow stages (html ships to Python, text ships back, text ships
    to Python again); fusing halves the IPC and one worker pass does both
    specs. Use when the intermediate text table is not needed downstream
    — at 10^12 pages that is a full materialization saved. Semantics are
    EXACTLY extract_pages |> extract_triples_df (same pure functions).
    """
    return _triples(pages, "html", extract_text)
