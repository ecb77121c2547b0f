"""End-to-end incremental story (VERDICT r2 item 7): crawler-append ->
streaming stage-1+2 ingest (SIGKILLed mid-stream, restarted, exactly
once) -> periodic downstream link/CC refresh over the grown triples
table, idempotent per epoch."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

from clip_retrieval_spark.fixtures import pages_df
from clip_retrieval_spark.operators.triples import extract_and_triples_df
from clip_retrieval_spark.plans.pipeline import KGPipeline
from clip_retrieval_spark.streaming.ingest import stream_pages_to_triples

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_STREAM_JOB = """
import sys; sys.path.insert(0, {repo!r})
from clip_retrieval_spark.session import get_spark
from clip_retrieval_spark.streaming.ingest import stream_pages_to_triples
spark = get_spark(master="local[4]", shuffle_partitions=8,
                  app_name="ingest-kill")
spark.sparkContext.setLogLevel("ERROR")
q = stream_pages_to_triples(spark, {src!r}, {out!r}, {cp!r},
                            available_now=True, max_files_per_trigger=1)
q.awaitTermination(600)
spark.stop()
"""


def _start_stream_job(src, out, cp):
    return subprocess.Popen(
        [
            sys.executable,
            "-c",
            _STREAM_JOB.format(repo=REPO, src=src, out=out, cp=cp),
        ],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        start_new_session=True,
    )


def _committed_batches(cp: str) -> int:
    d = os.path.join(cp, "commits")
    if not os.path.isdir(d):
        return 0
    return len([f for f in os.listdir(d) if not f.startswith(".")])


def _triple_set(df):
    return {
        (r["url"], r["sent_id"], r["subj"], r["pred"], r["obj"])
        for r in df.select("url", "sent_id", "subj", "pred", "obj").collect()
    }


def test_crawl_append_kill_resume_then_refresh(spark, tmp_path):
    src = str(tmp_path / "pages")
    out = str(tmp_path / "triples")
    cp = str(tmp_path / "cp")
    kg = str(tmp_path / "kg")

    # ---- wave 1 lands: 1200 pages over 24 files (1 file per batch) ----
    wave1 = pages_df(spark, 2400).filter("xxhash64(url) % 2 = 0")
    wave1.repartition(24).write.mode("append").parquet(src)

    # start ingest, SIGKILL the whole process group once >= 2 micro-
    # batches committed but (with 24 one-file batches) well before done
    proc = _start_stream_job(src, out, cp)
    deadline = time.monotonic() + 300
    while time.monotonic() < deadline:
        if proc.poll() is not None or _committed_batches(cp) >= 2:
            break
        time.sleep(0.2)
    killed_midway = proc.poll() is None
    if killed_midway:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait(timeout=60)
    # with 24 sub-second batches vs ~8 s JVM startup the kill must land
    # mid-stream; assert it so the scenario is really exercised
    assert killed_midway, "stream finished before the kill — add files"
    n_committed_at_kill = _committed_batches(cp)
    assert n_committed_at_kill < 24

    # ---- restart drains the remainder, exactly once -------------------
    q = stream_pages_to_triples(spark, src, out, cp, available_now=True)
    q.awaitTermination(300)
    assert not q.isActive
    want1 = _triple_set(extract_and_triples_df(wave1))
    result1 = spark.read.parquet(out)  # respects the sink commit log
    assert _triple_set(result1) == want1
    assert result1.count() == len(want1), "duplicate triples after kill"

    # ---- periodic downstream refresh #1 (link + CC over the sink) ----
    pipe = KGPipeline(spark, kg)
    epoch1 = result1.count()
    t1 = pipe.refresh_downstream(result1, epoch=epoch1)
    edges1 = t1["edges"].count()
    nodes1 = t1["nodes"].count()
    assert edges1 > 0 and nodes1 > 0
    # linked entities cover every distinct triple surface
    n_surfaces = (
        result1.selectExpr("subj AS s")
        .union(result1.selectExpr("obj"))
        .distinct()
        .count()
    )
    assert t1["entities"].count() == n_surfaces

    # refresh at the SAME epoch is a no-op (idempotent scheduler calls):
    # table files untouched
    mtime_before = os.path.getmtime(os.path.join(kg, "edges"))
    again = pipe.refresh_downstream(result1, epoch=epoch1)
    assert os.path.getmtime(os.path.join(kg, "edges")) == mtime_before
    assert again["edges"].count() == edges1

    # ---- wave 2 lands; incremental drain processes ONLY new files ----
    wave2 = pages_df(spark, 2400).filter("xxhash64(url) % 2 != 0")
    wave2.repartition(6).write.mode("append").parquet(src)
    batches_before = _committed_batches(cp)
    q = stream_pages_to_triples(spark, src, out, cp, available_now=True)
    q.awaitTermination(300)
    want_all = _triple_set(extract_and_triples_df(pages_df(spark, 2400)))
    result2 = spark.read.parquet(out)
    assert _triple_set(result2) == want_all
    assert result2.count() == len(want_all)
    # stage 1+2 were incremental: wave-1 files not reprocessed
    assert _committed_batches(cp) > batches_before

    # ---- refresh #2 picks up the grown table --------------------------
    epoch2 = result2.count()
    assert epoch2 > epoch1
    t2 = KGPipeline(spark, kg).refresh_downstream(result2, epoch=epoch2)
    assert t2["edges"].count() > edges1
    # a refresh over the grown table equals a refresh into an empty
    # output dir over the same triples (run() vs refresh agreement is
    # tests/test_pipeline_resume.py's)
    fresh = KGPipeline(spark, str(tmp_path / "kg_fresh")).refresh_downstream(
        result2, epoch=epoch2
    )
    for tbl in ("entities", "nodes", "edges"):
        assert sorted(map(tuple, t2[tbl].collect())) == sorted(
            map(tuple, fresh[tbl].collect())
        ), tbl
