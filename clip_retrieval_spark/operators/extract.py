"""Stage 1 — byte-identical HTML->text extraction.

Arrow-batched ``mapInArrow`` applying the pure EXTRACTION SPEC v1
(clip_retrieval_spark.functions.text.extract_text). This is the engine's
analog of the reference's per-sample decode/preprocess step executed inside
batched DataLoader workers (reference clip_inference/reader.py:94-120);
batching here is Arrow (``spark.sql.execution.arrow.maxRecordsPerBatch``),
not torch collate. Only ``html`` becomes Python objects: ``url``,
``warc_ts`` and ``lang`` pass through as the input batch's Arrow columns,
and ``text`` is built as one ``pa.string()`` array.

Scale notes (100 TB design point):
* Narrow transformation — no shuffle. Input parallelism = Iceberg/parquet
  split planning; `spark.sql.files.maxPartitionBytes` bounds task size.
* Corrupt rows are NOT dropped silently (the reference drops them in
  collate, reader.py:101-104,187-189); rows that fail decode yield text=""
  and are counted by the caller — at 10^12 pages a silent drop is
  unauditable.
* Output keyed by ``url`` — never by row position (SURVEY.md §1.3).
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clip_retrieval_spark.functions.text import extract_text

_OUT_FIELDS = "url string, warc_ts timestamp, text string, lang string"


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, lang, ...) -> (url, warc_ts, text, lang).

    Column-prunes eagerly so the scan never reads columns the stage does
    not touch (Catalyst pushes the pruning into the file reader).
    """

    def _extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # init-once-per-worker point: the extractor is pure-Python here,
        # but a heavier model would be constructed HERE, outside the loop
        # (the clip-retrieval pattern, reference mapper.py:16-48).
        for batch in batches:
            texts = [extract_text(h) for h in batch.column("html").to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("url"),
                    batch.column("warc_ts"),
                    pa.array(texts, pa.string()),
                    batch.column("lang"),
                ],
                names=["url", "warc_ts", "text", "lang"],
            )

    pruned = pages.select("url", "warc_ts", "html", "lang")
    return pruned.mapInArrow(_extract, schema=_OUT_FIELDS)


def lang_filter(extracted: DataFrame, langs: tuple[str, ...] = ("en",)) -> DataFrame:
    """Keep requested languages (predicate pushes to the scan when the
    input is a table read; analog of the reference's modality presence
    filter, reader.py:147-156)."""
    return extracted.filter(F.col("lang").isin(*langs))
