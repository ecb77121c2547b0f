"""Stage 2 — OpenIE-style triple extraction.

flatMap-shaped ``mapInArrow`` (one input page -> many triple rows)
applying TRIPLE SPEC v1 (clip_retrieval_spark.functions.text).
The reference has no UDTF; its nearest shape is the batched mapper whose
output batch length differs from input (dropped rows,
reference clip_inference/reader.py:187-189) — here we emit MORE rows
instead of fewer, the Spark-native explode pattern.

Each input ``pa.RecordBatch`` (``spark.sql.execution.arrow.maxRecordsPerBatch``
rows) yields one output batch built column-wise: only the html/text
column becomes Python objects; ``url`` and ``warc_ts`` are gathered with
``take`` on the row index of each triple, and the spans are ``list<int32>``
arrays over one flat buffer: the batch-amortised UDF shape of CIDR 2022
"Accelerating Python UDFs in Vectorized Query Execution".

Narrow (no shuffle). Output keyed by (url, sent_id, spans) — fully
deterministic given the input row, so stage reruns are idempotent.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from clip_retrieval_spark.functions.text import extract_text, extract_triples

TRIPLES_FIELDS = (
    "url string, warc_ts timestamp, sent_id int, subj string, pred string, "
    "obj string, subj_span array<int>, obj_span array<int>"
)
_NAMES = [f.split()[0] for f in TRIPLES_FIELDS.split(", ")]


def _spans(starts, ends) -> pa.ListArray:
    """[[s, e], ...] as list<int32>, from the flat starts and ends."""
    values = np.empty(2 * len(starts), np.int32)
    values[0::2] = starts
    values[1::2] = ends
    offsets = np.arange(0, len(values) + 1, 2, dtype=np.int32)
    return pa.ListArray.from_arrays(offsets, values)


def _triples(df: DataFrame, col: str, to_text) -> DataFrame:
    """(url, warc_ts, ``col``) -> triples of ``to_text(col)``: the one
    emitter behind both stage-2 operators."""

    def _emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            # only the spec's input becomes Python objects; url and
            # warc_ts are gathered on the Arrow side by row index
            idx, rows = [], []
            for i, value in enumerate(batch.column(col).to_pylist()):
                found = extract_triples(to_text(value))
                if found:
                    idx.extend([i] * len(found))
                    rows.extend(found)
            sid, subj, pred, obj, s1, e1, s2, e2 = (
                zip(*rows) if rows else [()] * 8
            )
            take = pa.array(idx, pa.int32())
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("url").take(take),
                    batch.column("warc_ts").take(take),
                    pa.array(sid, pa.int32()),
                    pa.array(subj, pa.string()),
                    pa.array(pred, pa.string()),
                    pa.array(obj, pa.string()),
                    _spans(s1, e1),
                    _spans(s2, e2),
                ],
                names=_NAMES,
            )

    return df.select("url", "warc_ts", col).mapInArrow(
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
