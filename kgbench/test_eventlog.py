"""Pins the event-log reducer and the tracer's job attribution on an event
log this test writes itself.

    python -m pytest kgbench/test_eventlog.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from kgbench.eventlog import reduce_event_log  # noqa: E402
from kgbench.tracer import Tracer  # noqa: E402

PHASE = "kgbench.phase"


def _identity(batches):
    yield from batches


def _group_of(props: dict) -> str | None:
    if props.get(PHASE) != "measure":
        return None
    return props.get("spark.job.description") or ""


def _mark(simple_string: str) -> str | None:
    if simple_string.startswith("Filter") and "% 4" in simple_string:
        return "quarter"
    return None


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    if SparkContext._active_spark_context is not None:
        pytest.skip("needs its own SparkContext to enable the event log")
    from clip_retrieval_spark.session import get_spark

    events = tmp_path_factory.mktemp("events")
    spark = get_spark(
        master="local[2]", shuffle_partitions=2, app_name="kgbench-test",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    sc = spark.sparkContext
    tracer = Tracer(sc)
    try:
        ids = spark.range(0, 1000, 1, 2)
        ids.count()  # before the measured phase: not reduced
        sc.setLocalProperty(PHASE, "measure")
        with tracer.span("python"):
            ids.mapInPandas(_identity, "id long").write.format(
                "noop").mode("overwrite").save()
        with tracer.span("filter"):
            ids.filter(F.col("id") % 4 == 0).groupBy(
                (F.col("id") % 10).alias("k")
            ).count().write.format("noop").mode("overwrite").save()
        with tracer.span("filter"):
            # a nested span with the open label is not counted again
            with tracer.span("filter"):
                pass
        sc.setLocalProperty(PHASE, None)
        description = sc.getLocalProperty("spark.job.description")
    finally:
        spark.stop()
    return reduce_event_log(str(events), _group_of, _mark), tracer, description


def test_groups_are_the_measured_spans(traced):
    groups, _tracer, description = traced
    assert set(groups) == {"python", "filter"}
    assert description is None  # the span restored the description


def test_python_boundary_metrics(traced):
    g = traced[0]["python"]
    assert g.jobs == 1
    assert g.tasks == 2
    assert g.node_total("MapInPandas", "number of output rows") == 1000
    assert g.node_total("MapInPandas", "data sent to Python workers") > 0
    assert g.node_total("MapInPandas", "data returned from Python workers") > 0
    assert g.node_total("MapInPandas", "time to run Python workers") >= 0


def test_marked_node_rows_in_and_out(traced):
    g = traced[0]["filter"]
    assert g.node_total("quarter", "rows in") == 1000
    assert g.node_total("quarter", "rows out") == 250
    assert g.task["shuffle_write_bytes"] > 0


def test_tracer_counts_outermost_spans(traced):
    tracer = traced[1]
    assert tracer.calls == {"python": 1, "filter": 2}
    assert tracer.seconds["filter"] > 0
