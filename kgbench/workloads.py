"""The benchmark's workloads: inputs, one measured operation, output checks
and per-layer metrics.

Each workload writes its inputs from ``seed`` under its own work
directory, then the harness (``run.py``) times closed-loop operations.

* ``TriplesFixture`` — the fused stage-1+2 pass
  (``operators.triples.extract_and_triples_df``) over the
  ``fixtures.pages_df(seed)`` rows, pre-written to parquet, forced with
  the noop sink. Python spec functions and the Arrow boundary do nearly
  all the work: no shuffle, no table writes, no stage 3/4.
* ``BuildOpenVocab`` — one fresh ``KGPipeline.run`` plus
  ``table_counts()`` over open-vocabulary pages (``vocab_pages``), where
  linking, canonicalization and the ``TableStore`` ledger do real work.
  Like ``jobs/run_pipeline.py`` it is one-shot: a pipeline run in a new
  session pays JIT and code generation, so that cost is part of the
  measured run rather than hidden by a warm-up.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import Observation
from pyspark.sql import functions as F

from BENCH.result_hash import _canon
from clip_retrieval_spark import fixtures
from clip_retrieval_spark.functions import text as spec
from clip_retrieval_spark.io import TableStore
from clip_retrieval_spark.operators import materialize
from clip_retrieval_spark.operators.extract import extract_pages
from clip_retrieval_spark.operators.triples import extract_and_triples_df
from clip_retrieval_spark.plans import pipeline
from clip_retrieval_spark.plans.pipeline import STAGE_TABLES, KGPipeline
from tests.oracle import oracle_extract_text, oracle_extract_triples

from kgbench import vocab_pages
from kgbench.eventlog import Group

SAMPLE_PAGES = 64
TEXT_SAMPLE_PAGES = 200
STAGES = tuple(STAGE_TABLES)
TABLES = tuple(STAGE_TABLES.values())
PHASE = "kgbench.phase"


def score_node(simple_string: str) -> str | None:
    """Plan nodes that apply an embedding-dot-product threshold: the
    linking score filter and the alias-merge join condition."""
    if "zip_with(" in simple_string and ">=" in simple_string:
        return "score"
    return None


def _span(tracer, label: str):
    return tracer.span(label) if tracer else contextlib.nullcontext()


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def _spec_us_per_page(htmls: list[bytes]) -> tuple[float, float]:
    """Single-core driver time of the two spec functions, in µs per page:
    the median of five passes over the sample."""
    texts = [spec.extract_text(h) for h in htmls]
    ext, trip = [], []
    for _ in range(5):
        t0 = time.perf_counter()
        for h in htmls:
            spec.extract_text(h)
        t1 = time.perf_counter()
        for t in texts:
            spec.extract_triples(t)
        t2 = time.perf_counter()
        ext.append((t1 - t0) / len(htmls) * 1e6)
        trip.append((t2 - t1) / len(htmls) * 1e6)
    return statistics.median(ext), statistics.median(trip)


def _oracle(rows: list[tuple]) -> tuple[dict, set]:
    """Expected text per url and (url, sent_id, subj, pred, obj) triples,
    from the independent spec oracle."""
    text = {r[0]: oracle_extract_text(r[2]) for r in rows}
    triples = {
        (url, *t) for url, tx in text.items()
        for t in oracle_extract_triples(tx)
    }
    return text, triples


def _sql_sum(groups: dict[str, Group], metric: str) -> float:
    return sum(
        v for grp in groups.values()
        for (_node, m), v in grp.sql.items() if m == metric
    )


def _node_sum(groups, names, node: str, metric: str) -> float:
    return sum(
        groups[g].node_total(node, metric) for g in names if g in groups
    )


def table_hash(path: str) -> str:
    """Order-insensitive hash of a parquet table, with floats
    canonicalized as ``BENCH/result_hash.py`` does."""
    t = pq.read_table(path)
    cols = sorted(t.column_names)
    data = [t.column(c).to_pylist() for c in cols]
    lines = sorted(
        "\x1f".join(_canon(col[i]) for col in data) for i in range(t.num_rows)
    )
    h = hashlib.md5(("|".join(cols) + "\n").encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class Workload:
    """Common shape: ``setup_inputs`` (timed, repeated), ``warm_up_ops``
    untimed operations, ``operate`` (one measured operation), ``checks``
    and ``layers``. A ``one_shot`` workload measures exactly one
    operation per run."""

    name = ""
    n_pages = 0
    warm_up_ops = 0
    one_shot = False

    def __init__(self, spark, seed: int, work_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.sample_ids = sorted(
            random.Random(f"sample/{seed}").sample(range(self.n_pages),
                                                   SAMPLE_PAGES)
        )

    def instrument(self, tracer) -> None:
        """Wrap the program's public functions this workload calls."""

    def spark_layers(self, groups: dict[str, Group], ops: int) -> dict:
        """Engine totals over every job of the measured operations."""
        task: Counter = Counter()
        for grp in groups.values():
            task.update(grp.task)
        return {
            "spark.jobs": sum(g.jobs for g in groups.values()) / ops,
            "spark.tasks": sum(g.tasks for g in groups.values()) / ops,
            "spark.python_worker_s":
                _sql_sum(groups, "time to run Python workers") / ops,
            "spark.scan_s": _sql_sum(groups, "scan time") / ops,
            "spark.shuffle_write_bytes": task["shuffle_write_bytes"] / ops,
            "spark.agg_build_s":
                _sql_sum(groups, "time in aggregation build") / ops,
            "spark.spill_bytes": task["disk_spill_bytes"] / ops,
            "spark.jvm_gc_s": task["gc_s"] / ops,
        }


class TriplesFixture(Workload):
    name = "triples_fixture"
    n_pages = 3_000
    warm_up_ops = 2
    SPAN = "triples.extract_and_triples_df"

    def setup_inputs(self) -> None:
        # driver-side generation gives the same rows as fixtures.pages_df;
        # without a Spark job here, the session's cold start falls in the
        # warm-up, which setup_s counts whole
        path = os.path.join(self.work_dir, "pages")
        cols = list(zip(*fixtures.gen_pages_local(self.n_pages, self.seed)))
        schema = pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()), ("text", pa.string()),
            ("lang", pa.string()),
        ])
        # several equal files per core: Spark packs whole small files into
        # even scan splits, while one file splits at openCostInBytes and
        # leaves one task with most of the pages
        table = pa.table(cols, schema=schema)
        n_files = 4 * self.spark.sparkContext.defaultParallelism
        step = -(-self.n_pages // n_files)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        for i in range(n_files):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(path, f"part-{i:03d}.parquet"))
        self.pages = self.spark.read.parquet(path)
        self.counts: list[int] = []

    def sample_rows(self) -> list[tuple]:
        return [fixtures.gen_page(i, self.seed) for i in self.sample_ids]

    def operate(self, tracer=None) -> dict:
        obs = Observation(f"triples{len(self.counts)}")
        out = extract_and_triples_df(self.pages).observe(
            obs, F.count(F.lit(1)).alias("n")
        )
        with _span(tracer, self.SPAN):
            out.write.format("noop").mode("overwrite").save()
        n = int(obs.get["n"])
        self.counts.append(n)
        return {"pages": self.n_pages, "triples": n}

    def checks(self) -> list[tuple[str, bool, str]]:
        rows = self.sample_rows()
        urls = [r[0] for r in rows]
        exp_text, exp_triples = _oracle(rows)
        sub = self.pages.filter(F.col("url").isin(urls))
        got_text = {r["url"]: r["text"] for r in extract_pages(sub).collect()}
        got_triples = {
            (r["url"], r["sent_id"], r["subj"], r["pred"], r["obj"])
            for r in extract_and_triples_df(sub).collect()
        }
        return [
            ("text byte-identical on sample", got_text == exp_text,
             f"{len(got_text)} urls"),
            ("triples exact on sample", got_triples == exp_triples,
             f"{len(got_triples)} vs {len(exp_triples)} triples"),
            ("triple count repeats across operations",
             len(set(self.counts)) == 1, f"{sorted(set(self.counts))}"),
        ]

    def layers(self, tracer, groups: dict[str, Group], ops: int) -> dict:
        ext_us, trip_us = _spec_us_per_page(
            [fixtures.gen_page(i, self.seed)[2]
             for i in range(TEXT_SAMPLE_PAGES)]
        )
        g = [self.SPAN]
        out = {
            "text.extract_us_per_page": ext_us,
            "text.triples_us_per_page": trip_us,
            "triples.python_worker_s": _node_sum(
                groups, g, "MapInPandas", "time to run Python workers") / ops,
            "triples.bytes_to_python": _node_sum(
                groups, g, "MapInPandas", "data sent to Python workers") / ops,
            "triples.bytes_from_python": _node_sum(
                groups, g, "MapInPandas",
                "data returned from Python workers") / ops,
            "triples.rows_out": _node_sum(
                groups, g, "MapInPandas", "number of output rows") / ops,
        }
        return out | self.spark_layers(groups, ops)


class BuildOpenVocab(Workload):
    name = "build_open_vocab"
    n_pages = 1_000
    n_entities = 1_000
    one_shot = True
    RUN_SPAN = "pipeline.run"
    LEDGER = "io.ledger"
    LINK_SPAN = "link.surface_link_topk"
    CC_SPAN = "cc.connected_components"

    def setup_inputs(self) -> None:
        path = os.path.join(self.work_dir, "pages")
        vocab_pages.pages_df(
            self.spark, self.n_pages, self.n_entities, self.seed
        ).write.mode("overwrite").parquet(path)
        self.pages = self.spark.read.parquet(path)
        self.out_dir = os.path.join(self.work_dir, "kg")

    def sample_rows(self) -> list[tuple]:
        vocab = vocab_pages.Vocabulary(self.seed, self.n_entities)
        return [vocab_pages.gen_page(i, self.seed, vocab)
                for i in self.sample_ids]

    def instrument(self, tracer) -> None:
        for attr in ("commit_buckets", "committed_buckets", "checkpoints",
                     "gc_uncommitted"):
            tracer.wrap(TableStore, attr, self.LEDGER)
        tracer.wrap(KGPipeline, "table_counts", self.LEDGER)
        for attr in ("write", "append_bucketed"):
            tracer.wrap(TableStore, attr,
                        lambda _self, _df, table: f"io.write:{table}")
        tracer.wrap(pipeline, "surface_link_topk", self.LINK_SPAN)
        tracer.wrap(materialize, "connected_components", self.CC_SPAN)

    def operate(self, tracer=None) -> dict:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        t0 = time.monotonic()
        with _span(tracer, self.RUN_SPAN):
            pipe = KGPipeline(self.spark, self.out_dir)
            pipe.run(self.pages)
            counts = pipe.table_counts()
        self.wall = time.monotonic() - t0
        self.pipe, self.counts = pipe, counts
        return {"pages": self.n_pages, "triples": counts["triples"]}

    def checks(self) -> list[tuple[str, bool, str]]:
        rows = self.sample_rows()
        urls = [r[0] for r in rows]
        exp_text, exp_triples = _oracle(rows)
        flt = [("url", "in", urls)]
        tx = pq.read_table(os.path.join(self.out_dir, "text_extracted"),
                           columns=["url", "text"], filters=flt).to_pylist()
        tr = pq.read_table(
            os.path.join(self.out_dir, "triples"),
            columns=["url", "sent_id", "subj", "pred", "obj"], filters=flt,
        ).to_pylist()
        got_text = {r["url"]: r["text"] for r in tx}
        got_triples = {
            (r["url"], r["sent_id"], r["subj"], r["pred"], r["obj"])
            for r in tr
        }
        self.hashes = {
            t: table_hash(os.path.join(self.out_dir, t))
            for t in ("nodes", "edges", "links")
        }
        out = [
            ("text byte-identical on sample", got_text == exp_text,
             f"{len(got_text)} urls"),
            ("triples exact on sample", got_triples == exp_triples,
             f"{len(got_triples)} vs {len(exp_triples)} triples"),
        ]
        with open(EXPECTED_HASHES, encoding="utf-8") as f:
            expected = json.load(f).get(str(self.seed))
        if expected:
            out.append(("nodes/edges/links match the seed's pinned hash",
                        expected == self.hashes, f"{self.hashes}"))
        return out

    def layers(self, tracer, groups: dict[str, Group], ops: int) -> dict:
        vocab = vocab_pages.Vocabulary(self.seed, self.n_entities)
        ext_us, trip_us = _spec_us_per_page(
            [vocab_pages.gen_page(i, self.seed, vocab)[2]
             for i in range(TEXT_SAMPLE_PAGES)]
        )
        stage12 = ["io.write:text_extracted", "io.write:triples"]
        embed = ["io.write:entities", self.LINK_SPAN]
        link = ["io.write:surface_links", self.LINK_SPAN]
        sm = self.pipe.stage_metrics
        link_pairs = _node_sum(groups, ["io.write:surface_links"], "score",
                               "rows in")
        merge_pairs = _node_sum(groups, [self.CC_SPAN], "score", "rows in")
        merge_kept = _node_sum(groups, [self.CC_SPAN], "score", "rows out")
        out = {
            "text.extract_us_per_page": ext_us,
            "text.triples_us_per_page": trip_us,
            "triples.python_worker_s": _node_sum(
                groups, stage12, "MapInPandas", "time to run Python workers"),
            "triples.bytes_to_python": _node_sum(
                groups, stage12, "MapInPandas", "data sent to Python workers"),
            "triples.bytes_from_python": _node_sum(
                groups, stage12, "MapInPandas",
                "data returned from Python workers"),
            "triples.rows_out": _node_sum(
                groups, ["io.write:triples"], "MapInPandas",
                "number of output rows"),
            "embed.surfaces": _node_sum(
                groups, embed, "MapInPandas", "number of output rows"),
            "embed.python_worker_s": _node_sum(
                groups, embed, "MapInPandas", "time to run Python workers"),
            "link.stage_s": sm["surface_links"]["wall_ms"] / 1e3,
            "link.candidate_pairs": link_pairs,
            "link.kept_ratio": (self.counts["surface_links"] / link_pairs
                                if link_pairs else 0.0),
            "link.shuffle_bytes": sum(
                groups[g].task["shuffle_write_bytes"] for g in link
                if g in groups),
            "cc.s": tracer.seconds[self.CC_SPAN],
            "cc.jobs": groups[self.CC_SPAN].jobs if self.CC_SPAN in groups
            else 0,
            "materialize.candidate_pairs": merge_pairs,
            "materialize.kept_ratio": (merge_kept / merge_pairs
                                       if merge_pairs else 0.0),
            "io.ledger_s": tracer.seconds[self.LEDGER],
            "io.ledger_calls": tracer.calls[self.LEDGER],
            "io.ledger_jobs": groups[self.LEDGER].jobs
            if self.LEDGER in groups else 0,
            "pipeline.outside_stage_s": self.wall - sum(
                v["wall_ms"] for v in sm.values()) / 1e3,
        }
        for t in TABLES:
            out[f"io.write_s.{t}"] = tracer.seconds[f"io.write:{t}"]
            out[f"io.bytes.{t}"] = _du(os.path.join(self.out_dir, t))
        for s in STAGES:
            out[f"pipeline.stage_s.{s}"] = sm[s]["wall_ms"] / 1e3
            out[f"pipeline.stage_cpu_s.{s}"] = sm[s]["cpu_ms"] / 1e3
        return out | self.spark_layers(groups, ops)


WORKLOADS = {w.name: w for w in (TriplesFixture, BuildOpenVocab)}


def per_layer_metrics() -> dict[str, tuple[str, str]]:
    """name -> (unit, better) of every per-layer metric, in report order.
    A workload that does not run a layer reports 0 for it."""
    m = {
        "session.start_s": ("s", "lower"),
        "trace.wall_s": ("s", "lower"),
        "text.extract_us_per_page": ("us/page", "lower"),
        "text.triples_us_per_page": ("us/page", "lower"),
        "triples.python_worker_s": ("s", "lower"),
        "triples.bytes_to_python": ("bytes", "lower"),
        "triples.bytes_from_python": ("bytes", "lower"),
        "triples.rows_out": ("count", "higher"),
        "embed.surfaces": ("count", "lower"),
        "embed.python_worker_s": ("s", "lower"),
        "link.stage_s": ("s", "lower"),
        "link.candidate_pairs": ("count", "lower"),
        "link.kept_ratio": ("ratio", "higher"),
        "link.shuffle_bytes": ("bytes", "lower"),
        "cc.s": ("s", "lower"),
        "cc.jobs": ("count", "lower"),
        "materialize.candidate_pairs": ("count", "lower"),
        "materialize.kept_ratio": ("ratio", "higher"),
        "io.ledger_s": ("s", "lower"),
        "io.ledger_calls": ("count", "lower"),
        "io.ledger_jobs": ("count", "lower"),
    }
    m |= {f"io.write_s.{t}": ("s", "lower") for t in TABLES}
    m |= {f"io.bytes.{t}": ("bytes", "lower") for t in TABLES}
    m |= {f"pipeline.stage_s.{s}": ("s", "lower") for s in STAGES}
    m |= {f"pipeline.stage_cpu_s.{s}": ("s", "lower") for s in STAGES}
    m["pipeline.outside_stage_s"] = ("s", "lower")
    m |= {
        "spark.jobs": ("count", "lower"),
        "spark.tasks": ("count", "lower"),
        "spark.python_worker_s": ("s", "lower"),
        "spark.scan_s": ("s", "lower"),
        "spark.shuffle_write_bytes": ("bytes", "lower"),
        "spark.agg_build_s": ("s", "lower"),
        "spark.spill_bytes": ("bytes", "lower"),
        "spark.jvm_gc_s": ("s", "lower"),
    }
    return m

# canonical nodes/edges/links hashes of build_open_vocab, per seed
EXPECTED_HASHES = os.path.join(os.path.dirname(__file__),
                               "expected_hashes.json")
