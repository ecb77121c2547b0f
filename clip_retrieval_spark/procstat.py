"""Process-tree CPU accounting for scaling-efficiency evidence.

Spark's task metric ``executorCpuTime`` counts only JVM task-thread CPU;
in a pandas-UDF-heavy pipeline most cycles burn in forked Python worker
processes, which that metric never sees. For the N-vs-4N scaling
argument (BASELINE.md north rule) the question is machine-level: how
much CPU did the WHOLE tree — driver, local-mode JVM, python daemon,
python workers — consume per second of wall clock. Linux already keeps
that ledger in /proc/<pid>/stat (utime+stime, plus cutime/cstime for
reaped children), so we read it directly: no sampling thread, no JMX,
no listener plumbing.

Used by plans.pipeline (per-stage deltas into the _metrics table) and
jobs/run_pipeline.py (run totals + utilization in the output JSON).
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _read_stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own_cpu_sec, reaped_children_cpu_sec) for one pid, or None
    if the process vanished between listdir and read (normal churn)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may contain spaces/parens — fields start after the LAST ')'
    rest = raw.rsplit(")", 1)[1].split()
    # rest[0]=state, [1]=ppid, [11]=utime, [12]=stime, [13]=cutime, [14]=cstime
    ppid = int(rest[1])
    own = (int(rest[11]) + int(rest[12])) / _CLK_TCK
    reaped = (int(rest[13]) + int(rest[14])) / _CLK_TCK
    return ppid, own, reaped


def tree_cpu_seconds() -> float:
    """Total CPU seconds consumed so far by this process and every live
    descendant, plus CPU of descendants each tree member has already
    reaped. Monotonic while the tree's processes stay alive (python
    worker reuse keeps Spark's workers alive across stages), so deltas
    between calls attribute CPU to the interval."""
    root = os.getpid()
    stats: dict[int, tuple[int, float, float]] = {}
    try:
        proc_entries = os.listdir("/proc")
    except OSError:
        # No procfs (macOS, some containers): degrade to this process's
        # own rusage (self + reaped children) so CPU accounting returns
        # a lower bound instead of crashing the whole pipeline.
        try:
            import resource

            a = resource.getrusage(resource.RUSAGE_SELF)
            b = resource.getrusage(resource.RUSAGE_CHILDREN)
            return a.ru_utime + a.ru_stime + b.ru_utime + b.ru_stime
        except Exception:
            return 0.0
    for name in proc_entries:
        if not name.isdigit():
            continue
        s = _read_stat(int(name))
        if s is not None:
            stats[int(name)] = s
    children: dict[int, list[int]] = {}
    for pid, (ppid, _o, _r) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total = 0.0
    stack = [root]
    seen = set()
    while stack:
        pid = stack.pop()
        if pid in seen or pid not in stats:
            continue
        seen.add(pid)
        _ppid, own, reaped = stats[pid]
        total += own + reaped
        stack.extend(children.get(pid, ()))
    return total
