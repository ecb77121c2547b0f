"""Spans around calls into the program's public functions.

The tracer lives in the benchmark, not in the program: ``wrap`` replaces a
module or class attribute with a timed version for the life of the
tracer, and ``span`` times a block. Each span also sets the Spark job
description, so the event log attributes the jobs a call starts to that
call (``eventlog.reduce_event_log`` groups by it). Spans with the label
already open are not counted again, so a ledger call made inside another
ledger call is timed once.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import Counter
from typing import Callable

_DESCRIPTION = "spark.job.description"


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.seconds: Counter = Counter()
        self.calls: Counter = Counter()
        self._open: list[str] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, label: str):
        if label in self._open:
            yield
            return
        prev = self.sc.getLocalProperty(_DESCRIPTION)
        self.sc.setLocalProperty(_DESCRIPTION, label)
        self._open.append(label)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[label] += time.perf_counter() - t0
            self.calls[label] += 1
            self._open.pop()
            self.sc.setLocalProperty(_DESCRIPTION, prev)

    def wrap(
        self, owner: object, attr: str, label: str | Callable[..., str]
    ) -> None:
        """Time every call of ``owner.attr`` under ``label`` (a string, or
        a function of the call's arguments that returns one)."""
        orig = getattr(owner, attr)
        span = self.span

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            name = label(*args, **kwargs) if callable(label) else label
            with span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, timed)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
