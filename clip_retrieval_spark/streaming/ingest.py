"""Streaming KG ingest: new page files -> triples, incrementally.

The batch pipeline (plans.pipeline) processes a snapshot; real corpora
arrive continuously (a crawler keeps appending page files). Structured
Streaming turns the SAME stage-1+2 transformation into an incremental
job: `readStream` tails the input directory, the fused extract+triples
mapInArrow runs unchanged (it is stateless, so it is streaming-legal
as-is), and `writeStream` + a checkpoint directory give exactly-once
file-level semantics — a restarted query resumes from the checkpoint
and never reprocesses a committed input file. This replaces the batch
DAG's bucket ledger with Spark's own streaming commit log at the
ingest edge; downstream global stages (linking, CC) stay periodic
batch jobs over the growing triples table, which is the standard
lambda split for shuffle-heavy graph work.

The reference is strictly batch (clip_inference walks a fixed file
list, reference clip_inference/main.py); streaming ingest is one of
the engine additions, consistent with the north rule's resumability
posture.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from clip_retrieval_spark.fixtures import PAGES_SCHEMA
from clip_retrieval_spark.operators.triples import extract_and_triples_df


def read_page_stream(
    spark: SparkSession,
    src_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming source over a directory of page parquet files.
    ``max_files_per_trigger`` bounds per-micro-batch work (the knob that
    keeps batch duration, and so end-to-end latency, flat as the
    directory grows)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def stream_pages_to_triples(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Incremental stage-1+2: tail ``src_dir`` for page files, emit
    triples parquet under ``out_dir``. Exactly-once per input file via
    ``checkpoint_dir`` (restart-safe: already-committed files are
    skipped by the streaming commit log).

    ``available_now=True`` drains everything currently present and
    stops (the batch-backfill trigger); ``False`` runs continuously
    with the default micro-batch trigger.
    """
    pages = read_page_stream(spark, src_dir, max_files_per_trigger)
    triples = extract_and_triples_df(pages)
    writer = (
        triples.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _read_ledger(
    spark: SparkSession, ledger_dir: str, before_batch: int
) -> DataFrame | None:
    """Committed ledger state STRICTLY BEFORE ``before_batch``: the
    current batch's own (possibly partial, pre-crash) delta dir must
    not mask its rows on re-run, or a replayed batch would emit zero
    triples instead of the same triples."""
    dirs = [
        os.path.join(ledger_dir, d)
        for d in (os.listdir(ledger_dir) if os.path.isdir(ledger_dir) else [])
        if d.startswith("batch_id=")
        and int(d.split("=", 1)[1]) < before_batch
    ]
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def stream_pages_to_triples_deduped(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    ledger_dir: str,
) -> StreamingQuery:
    """Content-deduped incremental stage-1+2: like
    ``stream_pages_to_triples`` (drain what is present, then stop) but
    each micro-batch consults the persistent content-hash ledger
    (operators.dedup.incremental_dedup) before extraction, so a
    RE-CRAWLED duplicate page — same html arriving later in a brand-new
    input file, which the streaming commit log cannot catch (it is
    file-level) — is dropped at the ingest edge instead of polluting
    the triples table. The clip-retrieval analog is deduping before
    indexing (reference clip_back.py:257-268); an ingesting corpus
    needs the ledger form.

    Exactly-once despite foreachBatch's at-least-once contract:
    triples and ledger deltas are written to ``batch_id=N`` partition
    directories with overwrite mode, and the dedup input state (the
    ledger read) covers only batches < N — a replayed batch therefore
    recomputes byte-identical output over identical state and the
    overwrite is a no-op. Downstream readers see one parquet table at
    ``out_dir`` with a ``batch_id`` partition column.

    Scale shape: the ledger join is a left-anti keyed by an 8-byte
    xxhash64 — at 10^12 pages the ledger is bucketable by content_hash
    so the anti-join co-locates; the micro-batch side is small by
    construction (only the files new since the last commit).
    """
    pages = read_page_stream(spark, src_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from clip_retrieval_spark.operators.dedup import incremental_dedup

        ledger = _read_ledger(spark, ledger_dir, before_batch=batch_id)
        # pin the batch once: kept and delta are two actions over the
        # same micro-batch; without the checkpoint each would re-read
        # the source files
        with_id = batch_df.withColumn(
            "_page_id", F.xxhash64("url")
        ).localCheckpoint(eager=True)
        kept, delta = incremental_dedup(
            with_id, ledger, content_cols=["html"], id_col="_page_id"
        )
        triples = extract_and_triples_df(kept.drop("_page_id"))
        triples.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        delta.write.mode("overwrite").parquet(
            os.path.join(ledger_dir, f"batch_id={batch_id}")
        )

    return (
        pages.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
