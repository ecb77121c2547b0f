"""Reduce a Spark event log to per-group totals.

A *group* is whatever ``group_of(job_properties)`` returns for a job; the
benchmark groups by the job description it sets around each public call
it times (``tracer.Tracer``), plus a local property that marks the
measured phase. Jobs for which ``group_of`` returns ``None`` are skipped.

For every group the reducer sums

* job and task counts;
* task metrics (JVM GC time, shuffle bytes written, bytes spilled to
  disk);
* SQL metrics, keyed by ``(node name, metric name)``: the accumulator ids
  in each ``sparkPlanInfo`` (the initial plan and every adaptive
  re-plan) are mapped to their plan node and metric, and every
  ``TaskEnd`` accumulator update is added to the group of the job whose
  stage ran the task. Timings are converted to seconds.

``mark(simple_string)`` may label plan nodes; a labelled node also
reports ``(label, "rows out")`` (its own output rows) and
``(label, "rows in")`` (the output rows of its nearest descendant along
the first-child chain), so the ratio of a filter or a join condition can
be read off where it runs.

Spark 4 writes rolling event logs (``eventlog_v2_<app>/events_<n>_<app>``),
zstd-compressed by default; ``pyarrow`` decodes them.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Callable, Iterator

import pyarrow as pa

_ROWS = "number of output rows"
_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}
_CODECS = {".zstd": "zstd", ".lz4": "lz4", ".snappy": "snappy"}
_EXPR_ID = re.compile(r"#\d+L?")


@dataclass
class Group:
    jobs: int = 0
    tasks: int = 0
    task: Counter = field(default_factory=Counter)
    sql: Counter = field(default_factory=Counter)

    def node_total(self, node: str, metric: str) -> float:
        """Sum of ``metric`` over every plan node named ``node``."""
        return self.sql.get((node, metric), 0.0)


def _event_files(log_dir: str) -> list[str]:
    paths = []
    for root, _dirs, files in os.walk(log_dir):
        for name in files:
            if name.startswith("events_") or name.startswith("local-"):
                paths.append(os.path.join(root, name))

    def order(p: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)

    return sorted(paths, key=order)


def read_events(log_dir: str) -> Iterator[dict]:
    """Every event of every application log under ``log_dir``, in order."""
    for path in _event_files(log_dir):
        codec = _CODECS.get(os.path.splitext(path)[1])
        with pa.input_stream(path, compression=codec) as f:
            data = f.read()
        for line in data.decode("utf-8").splitlines():
            if line:
                yield json.loads(line)


def _add(accs: dict, acc_id: int, key: tuple[str, str, str]) -> None:
    # adaptive re-plans repeat the accumulators of unchanged nodes
    keys = accs.setdefault(acc_id, [])
    if key not in keys:
        keys.append(key)


def _map_plan(
    node: dict,
    accs: dict[int, list[tuple[str, str, str]]],
    mark: Callable[[str], str | None] | None,
) -> int | None:
    """Register every accumulator of the plan tree under ``node``;
    return the accumulator of the output-row count nearest to ``node``
    along the first-child chain."""
    child_rows = None
    for i, child in enumerate(node.get("children", [])):
        r = _map_plan(child, accs, mark)
        if i == 0:
            child_rows = r
    name = node["nodeName"].split(" (")[0].strip()
    rows = None
    for m in node.get("metrics", []):
        _add(accs, m["accumulatorId"], (name, m["name"], m["metricType"]))
        if m["name"] == _ROWS:
            rows = m["accumulatorId"]
    simple = _EXPR_ID.sub("", node.get("simpleString", ""))
    label = mark(simple) if mark else None
    if label:
        if rows is not None:
            _add(accs, rows, (label, "rows out", "sum"))
        if child_rows is not None:
            _add(accs, child_rows, (label, "rows in", "sum"))
    return rows if rows is not None else child_rows


def reduce_event_log(
    log_dir: str,
    group_of: Callable[[dict], str | None],
    mark: Callable[[str], str | None] | None = None,
) -> dict[str, Group]:
    """Per-group totals of every event log under ``log_dir``."""
    accs: dict[int, list[tuple[str, str, str]]] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, Group] = defaultdict(Group)
    for e in read_events(log_dir):
        kind = e.get("Event", "")
        if "sparkPlanInfo" in e:
            _map_plan(e["sparkPlanInfo"], accs, mark)
        elif kind == "SparkListenerJobStart":
            g = group_of(e.get("Properties") or {})
            if g is None:
                continue
            groups[g].jobs += 1
            for sid in e.get("Stage IDs", []):
                # a later job lists an already-computed stage as skipped;
                # its tasks belong to the job that first submitted it
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e.get("Stage ID"))
            if g is None:
                continue
            grp = groups[g]
            grp.tasks += 1
            tm = e.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            grp.task["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            grp.task["shuffle_write_bytes"] += sw.get(
                "Shuffle Bytes Written", 0)
            grp.task["disk_spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                keys = accs.get(a.get("ID"))
                if not keys or a.get("Update") is None:
                    continue
                try:
                    v = float(a["Update"])
                except (TypeError, ValueError):
                    continue
                for node, metric, mtype in keys:
                    grp.sql[(node, metric)] += v * _SECONDS.get(mtype, 1.0)
    return dict(groups)
