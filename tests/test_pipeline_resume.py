"""Pipeline DAG + checkpoint/resume tests (SURVEY.md §5: kill after a
stage checkpoint, restart, assert identical outputs and that completed
partitions are NOT recomputed)."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from clip_retrieval_spark.fixtures import pages_df
from clip_retrieval_spark.io import TableStore
from clip_retrieval_spark.plans.pipeline import KGPipeline

N = 120
BUCKETS = 8


def _triple_set(df):
    return {
        (r["url"], r["sent_id"], r["subj"], r["pred"], r["obj"])
        for r in df.select("url", "sent_id", "subj", "pred", "obj").collect()
    }


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path / "kg")


def test_full_pipeline_runs_and_checkpoints(spark, outdir):
    pipe = KGPipeline(spark, outdir, n_buckets=BUCKETS)
    tables = pipe.run(pages_df(spark, N))
    assert tables["text_extracted"].count() == N
    assert tables["triples"].count() > 0
    assert tables["edges"].count() == tables["triples"].count()
    cps = pipe.store.checkpoints()
    stages = {r["stage"] for r in cps.select("stage").distinct().collect()}
    assert stages == {
        "extract", "triples", "mentions", "entities", "surface_links",
        "links", "nodes", "edges",
    }
    # per-bucket lineage rows for the narrow stages
    assert (
        cps.filter("stage = 'extract' and partition_id >= 0").count()
        == BUCKETS
    )
    # checkpointed per-bucket rows add up to the table row counts
    total = (
        cps.filter("stage = 'extract'").agg(F.sum("rows")).collect()[0][0]
    )
    assert total == N


def test_resume_skips_completed_buckets(spark, outdir):
    pages = pages_df(spark, N)
    full = KGPipeline(spark, outdir + "-ref", n_buckets=BUCKETS)
    want = _triple_set(full.run(pages)["triples"])

    # interrupted run: data + checkpoint rows exist for 3 buckets only —
    # exactly what a crash after a partial sequence of commits leaves
    # (written through the store API, the state an interrupted run has)
    from clip_retrieval_spark.operators.extract import extract_pages
    from clip_retrieval_spark.plans.pipeline import with_bucket

    pipe1 = KGPipeline(spark, outdir, n_buckets=BUCKETS)
    store = pipe1.store
    sub = with_bucket(pages, BUCKETS).filter(F.col("bucket").isin(0, 1, 2))
    out = with_bucket(extract_pages(sub.drop("bucket")), BUCKETS)
    store.append_bucketed(out, "text_extracted")
    store.commit_buckets(
        "extract", store.bucket_counts("text_extracted", [0, 1, 2]),
        0, pipe1.run_id,
    )
    committed_before = store.committed_buckets("extract")
    assert committed_before == {0, 1, 2}
    rows_before = {
        (r["partition_id"], r["rows"], r["run_id"])
        for r in store.checkpoints().filter("stage='extract'").collect()
    }

    # restart: full run over the same pages must only compute the rest
    pipe2 = KGPipeline(spark, outdir, n_buckets=BUCKETS)
    tables = pipe2.run(pages)
    assert _triple_set(tables["triples"]) == want
    rows_after = {
        (r["partition_id"], r["rows"], r["run_id"])
        for r in pipe2.store.checkpoints().filter("stage='extract'").collect()
    }
    # original 3 bucket commits are untouched (same run_id rows survive)
    assert rows_before <= rows_after
    # and the resumed run only added the missing buckets
    new = rows_after - rows_before
    assert {b for (b, _n, _r) in new} == set(range(BUCKETS)) - {0, 1, 2}
    assert all(r == pipe2.run_id for (_b, _n, r) in new)


def test_gc_uncommitted_buckets(spark, outdir):
    """Data written without a checkpoint row (simulated crash between
    write and commit) is dropped and recomputed."""
    pages = pages_df(spark, 40)
    pipe = KGPipeline(spark, outdir, n_buckets=4)
    store = pipe.store
    # simulate: data for bucket 9999 exists but was never committed
    from clip_retrieval_spark.plans.pipeline import with_bucket

    junk = with_bucket(pages, 4).withColumn(
        "bucket", F.lit(9999)
    ).selectExpr("url", "warc_ts", "cast(null as string) as text",
                 "lang", "bucket")
    store.append_bucketed(junk, "text_extracted")
    dropped = store.gc_uncommitted("extract", "text_extracted")
    assert dropped == [9999]
    tables = pipe.run(pages)
    assert tables["text_extracted"].count() == 40
    assert tables["text_extracted"].filter("bucket = 9999").count() == 0


def test_stale_committer_pending_dir_is_gc_ed(spark, outdir):
    """A SIGKILL between TASK commit and JOB commit parks finished task
    files under <table>/_temporary/0/ — and every fresh application's
    append job reuses that same pending dir (job attempt id 0), so its
    job commit would merge the dead run's files into the table as
    silent duplicate rows. gc must clear the pending dir before the
    resume run appends (regression for the kill-resume duplication)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pages = pages_df(spark, 40)
    stale = os.path.join(
        outdir, "text_extracted", "_temporary", "0",
        "task_202501010000_0001_m_000000", "bucket=0",
    )
    os.makedirs(stale)
    pq.write_table(
        pa.table({"url": ["junk://stale"], "text": ["stale"]}),
        os.path.join(stale, "part-00000-stale.parquet"),
    )
    pipe = KGPipeline(spark, outdir, n_buckets=4)
    tables = pipe.run(pages)
    assert tables["text_extracted"].count() == 40
    assert (
        tables["text_extracted"].filter("url LIKE 'junk%'").count() == 0
    )
    assert not os.path.isdir(
        os.path.join(outdir, "text_extracted", "_temporary")
    )


def test_resume_never_scans_input_when_committed(spark, outdir):
    """Pending buckets are enumerated from the LEDGER (range(n_buckets)
    minus committed), never by scanning the input: on a fully-committed
    resume, an input whose evaluation raises must never be touched."""
    from clip_retrieval_spark.fixtures import PAGES_SCHEMA

    pages = pages_df(spark, 60)
    pipe1 = KGPipeline(spark, outdir, n_buckets=4)
    n_triples = pipe1.run(pages)["triples"].count()

    def _boom(_batches):
        raise RuntimeError("resume scanned the input table")
        yield  # noqa: unreachable — makes this a generator

    poisoned = pages.mapInPandas(_boom, schema=PAGES_SCHEMA)
    pipe2 = KGPipeline(spark, outdir, n_buckets=4)
    tables = pipe2.run(poisoned)
    assert tables["triples"].count() == n_triples


def test_rerun_is_idempotent(spark, outdir):
    pages = pages_df(spark, 60)
    pipe1 = KGPipeline(spark, outdir, n_buckets=4)
    t1 = pipe1.run(pages)
    c1 = {k: df.count() for k, df in t1.items()}
    pipe2 = KGPipeline(spark, outdir, n_buckets=4)
    t2 = pipe2.run(pages)
    c2 = {k: df.count() for k, df in t2.items()}
    assert c1 == c2
    # second run added no checkpoint rows at all (everything committed)
    runs = {
        r["run_id"]
        for r in pipe2.store.checkpoints().select("run_id").collect()
    }
    assert runs == {pipe1.run_id}


def test_run_and_refresh_downstream_agree(spark, tmp_path):
    """``run`` and ``refresh_downstream`` share one stage-3/4 chain: a
    refresh over a run's triples table, into an empty output dir, builds
    the same six downstream tables row for row."""
    pipe = KGPipeline(spark, str(tmp_path / "run"), n_buckets=4,
                      materialize_text=False)
    ran = pipe.run(pages_df(spark, N))
    triples = pipe.store.read("triples").drop("bucket")
    fresh = KGPipeline(spark, str(tmp_path / "refresh"))
    refreshed = fresh.refresh_downstream(triples, epoch=triples.count())
    tables = ("mentions", "entities", "surface_links", "links", "nodes",
              "edges")
    assert set(refreshed) == set(tables)
    for t in tables:
        got = sorted(map(repr, refreshed[t].collect()))
        assert got == sorted(map(repr, ran[t].collect())), t
        assert got, t
