"""The `_checkpoints` ledger lives on the driver: its operations start no
Spark job, a commit is atomic (temp file + rename), and ledgers written
by Spark's parquet writer still read back and resume."""

from __future__ import annotations

import os
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import clip_retrieval_spark.io as io_mod
from clip_retrieval_spark.fixtures import pages_df
from clip_retrieval_spark.io import CHECKPOINT_SCHEMA, TableStore
from clip_retrieval_spark.plans.pipeline import KGPipeline


def _jobs_started(spark, fn):
    """Spark jobs started by ``fn()``, counted through a job group."""
    sc = spark.sparkContext
    group = f"ledger-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ledger probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(store, stage=None):
    return {
        (r["stage"], r["partition_id"], r["rows"], r["run_id"])
        for r in store.checkpoints().collect()
        if stage is None or r["stage"] == stage
    }


def test_ledger_operations_start_no_spark_job(spark, tmp_path):
    pipe = KGPipeline(spark, str(tmp_path / "kg"), n_buckets=4)
    store = pipe.store
    # the probe does see jobs: a count is one
    assert _jobs_started(spark, lambda: spark.range(3).count()) >= 1

    assert _jobs_started(spark, lambda: store.commit_buckets(
        "extract", {0: 5, 1: 0}, 10, "r1")) == 0
    assert _jobs_started(spark, lambda: store.commit_buckets(
        "nodes", {-1: 7}, 10, "r1")) == 0
    assert _jobs_started(
        spark, lambda: store.committed_buckets("extract")) == 0
    # an uncommitted bucket dir beside a committed one
    for b in (0, 3):
        d = tmp_path / "kg" / "text_extracted" / f"bucket={b}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"url": ["u"]}), str(d / "part-0.parquet"))
    dropped = []
    assert _jobs_started(spark, lambda: dropped.extend(
        store.gc_uncommitted("extract", "text_extracted"))) == 0
    assert dropped == [3]
    counts = {}
    assert _jobs_started(
        spark, lambda: counts.update(pipe.table_counts())) == 0
    assert counts == {"text_extracted": 5, "nodes": 7}
    assert store.committed_buckets("extract") == {0, 1}


def test_crash_between_write_and_rename_is_invisible(
        spark, tmp_path, monkeypatch):
    store = TableStore(spark, str(tmp_path / "kg"))
    store.commit_buckets("extract", {0: 3}, 1, "r1")

    def crash(_src, _dst):
        raise OSError("killed before the rename")

    monkeypatch.setattr(io_mod.os, "rename", crash)
    with pytest.raises(OSError, match="killed"):
        store.commit_buckets("extract", {1: 4, 2: 5}, 1, "r2")
    monkeypatch.undo()

    cp = store.path("_checkpoints")
    hidden = [n for n in os.listdir(cp) if n.startswith(".")
              and not n.endswith(".crc")]
    assert len(hidden) == 1 and hidden[0].endswith(".tmp")
    # the temp file holds the full commit; only the rename was lost
    assert pq.read_table(os.path.join(cp, hidden[0])).num_rows == 2

    assert store.committed_buckets("extract") == {0}
    assert _rows(store) == {("extract", 0, 3, "r1")}
    assert duckdb.sql(
        f"SELECT stage, partition_id, rows, run_id "
        f"FROM '{cp}/*.parquet'"
    ).fetchall() == [("extract", 0, 3, "r1")]
    # Spark's own parquet reader agrees, so external readers do too
    assert [
        tuple(r) for r in spark.read.schema(CHECKPOINT_SCHEMA).parquet(cp)
        .select("stage", "partition_id", "rows", "run_id").collect()
    ] == [("extract", 0, 3, "r1")]


def _spark_written_commit(spark, store, stage, bucket_rows, run_id):
    """A commit as Spark's parquet writer made it before the ledger
    moved to the driver: one appended part file, plus ``_SUCCESS`` and
    ``.crc`` side files."""
    rows = [(stage, int(b), int(n), 0, "done", run_id)
            for b, n in sorted(bucket_rows.items())]
    (
        spark.createDataFrame(rows, CHECKPOINT_SCHEMA)
        .coalesce(1)
        .write.mode("append")
        .parquet(store.path("_checkpoints"))
    )


def test_spark_written_ledger_reads_back_and_resumes(spark, tmp_path):
    from pyspark.sql import functions as F

    from clip_retrieval_spark.operators.extract import extract_pages
    from clip_retrieval_spark.plans.pipeline import with_bucket

    n, buckets = 40, 4
    pages = pages_df(spark, n)
    pipe1 = KGPipeline(spark, str(tmp_path / "kg"), n_buckets=buckets)
    store = pipe1.store
    sub = with_bucket(pages, buckets).filter(F.col("bucket").isin(0, 1))
    store.append_bucketed(
        with_bucket(extract_pages(sub.drop("bucket")), buckets),
        "text_extracted",
    )
    committed = store.bucket_counts("text_extracted", [0, 1])
    _spark_written_commit(spark, store, "extract", committed, "old")
    names = os.listdir(store.path("_checkpoints"))
    assert "_SUCCESS" in names
    assert any(name.endswith(".crc") for name in names)

    before = _rows(store)
    assert before == {
        ("extract", b, rows, "old") for b, rows in committed.items()}
    assert store.committed_buckets("extract") == {0, 1}
    assert before == {
        (r[0], r[1], r[2], r[3]) for r in duckdb.sql(
            f"SELECT stage, partition_id, rows, run_id "
            f"FROM '{store.path('_checkpoints')}/*.parquet'"
        ).fetchall()
    }

    pipe2 = KGPipeline(spark, str(tmp_path / "kg"), n_buckets=buckets)
    tables = pipe2.run(pages)
    assert tables["text_extracted"].count() == n
    after = _rows(pipe2.store, "extract")
    assert before <= after
    new = after - before
    assert {b for _s, b, _n, _r in new} == {2, 3}
    assert {r for _s, _b, _n, r in new} == {pipe2.run_id}
    assert pipe2.table_counts()["text_extracted"] == n
