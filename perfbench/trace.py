"""Spans recorded from outside the engine.

A :class:`Tracer` wraps public functions of the engine (and pyspark's
``DataFrameWriter``) so each call records a span: name, start, end,
parent and pass id. Spans stay in memory until the run ends. Times are
``time.time()`` seconds so they line up with the millisecond
timestamps of Spark's event log, which uses the same host clock.
"""

from __future__ import annotations

import functools
import importlib
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute) pairs wrapped in a traced run; span name = "module.attr"
# with the ``beholder_spark.`` prefix dropped.
ENGINE_FUNCTIONS = [
    ("beholder_spark.session", "get_spark"),
    ("beholder_spark.session", "ship_package"),
    ("beholder_spark.pipeline", "compile_pipeline"),
    ("beholder_spark.pipeline", "run_pages_pipeline"),
    ("beholder_spark.plans.lineage", "run_stage"),
    ("beholder_spark.plans.lineage", "read_stage"),
    ("beholder_spark.plans.lineage", "pending_partitions"),
    ("beholder_spark.plans.lineage", "done_partitions"),
    ("beholder_spark.config", "compile_config"),
    ("beholder_spark.config", "run_config_udp_daemon"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    pass_id: str | None = None
    label: str | None = None  # write target for writer spans
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Collects spans; parents are tracked per thread, so spans opened
    by the streaming query's ``foreachBatch`` thread nest correctly."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.pass_id: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, label: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(name, time.time(), parent=parent, pass_id=self.pass_id, label=label)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(sp)
            if parent is not None:
                self.spans[parent].children.append(idx)
        stack.append(idx)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    def _patch(self, owner, attr: str, name: str, label_of=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = label_of(args, kwargs) if label_of else None
            with self.span(name, label):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        for mod_name, attr in ENGINE_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, f"{mod_name.removeprefix('beholder_spark.')}.{attr}")
        from pyspark.sql.readwriter import DataFrameWriter

        def target(args, kwargs):
            path = kwargs.get("path", args[1] if len(args) > 1 else None)
            return os.path.basename(str(path).rstrip("/")) if path else "?"

        for attr in ("parquet", "save"):
            self._patch(DataFrameWriter, attr, "write", label_of=target)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- analysis ---------------------------------------------------------

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        kids = [(self.spans[c].start, self.spans[c].end) for c in sp.children]
        return sp.dur - union_length(kids, sp.start, sp.end)

    def in_pass(self, pass_id: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.pass_id == pass_id]

    def within(self, lo: float, hi: float) -> list[int]:
        """Spans that started inside ``[lo, hi]`` (daemon batches, whose
        spans open on the streaming thread with no pass id)."""
        return [i for i, s in enumerate(self.spans) if lo <= s.start <= hi]

    def innermost(self, t: float, candidates: list[int]) -> int | None:
        """The deepest candidate span open at time ``t``."""
        best, best_start = None, float("-inf")
        for i in candidates:
            s = self.spans[i]
            if s.start <= t <= s.end and s.start >= best_start:
                best, best_start = i, s.start
        return best

    def dump(self) -> list[dict]:
        return [
            {
                "id": i,
                "name": s.name,
                "label": s.label,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "pass": s.pass_id,
                "self_s": self.self_time(i),
            }
            for i, s in enumerate(self.spans)
        ]
