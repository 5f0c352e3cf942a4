"""In-memory span recorder for the traced mode.

Spans are recorded from the benchmark's own files only: ``install`` wraps
the public entry points of ``iceberg_core_spark`` (class methods of
``IceTable`` and ``Manifest``, the module-level ``load_table`` bindings) for
the lifetime of one benchmark process. Nothing inside the package changes.

A span is ``(id, op, name, parent, start, end)``. Every span opened while an
operation is running carries that operation's id; its parent is the
innermost span still open in the operation, on any thread (foreachBatch
callbacks run on a py4j callback thread, not on the caller's).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict

LAYERS = ("table", "manifest", "streaming", "session", "operators",
          "functions")


def layer_of(name: str) -> str:
    head = name.split(".", 1)[0]
    return head if head in LAYERS else "bench"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self.op: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self.wrapped: set[str] = set()    # span names of patched calls

    # -- recording -----------------------------------------------------
    def begin(self, name: str) -> dict:
        with self._lock:
            span = {"id": next(self._ids), "op": self.op, "name": name,
                    "parent": self._open[-1]["id"] if self._open else None,
                    "start": time.perf_counter(), "end": None}
            self._open.append(span)
            self.spans.append(span)
        return span

    def end(self, span: dict) -> None:
        with self._lock:
            span["end"] = time.perf_counter()
            self._open.remove(span)

    @contextlib.contextmanager
    def span(self, name: str):
        span = self.begin(name)
        try:
            yield span
        finally:
            self.end(span)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- installation --------------------------------------------------
    def patch(self, owner, attr: str, name: str) -> None:
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(
            owner, attr)
        if isinstance(raw, classmethod):
            new = classmethod(self.wrap(name, raw.__func__))
        elif isinstance(raw, staticmethod):
            new = staticmethod(self.wrap(name, raw.__func__))
        else:
            new = self.wrap(name, raw)
        self._patches.append((owner, attr, raw))
        self.wrapped.add(name)
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every public ``IceTable`` method, ``Manifest.load`` /
        ``Manifest.commit`` and each module's ``load_table`` binding."""
        import sys

        from iceberg_core_spark import session
        from iceberg_core_spark.registry import all_queries
        from iceberg_core_spark.table import IceTable, Manifest

        all_queries()  # imports every query module, binding load_table
        for attr, val in list(vars(IceTable).items()):
            if not attr.startswith("_") and (
                    callable(val) or isinstance(val, (classmethod,
                                                      staticmethod))):
                self.patch(IceTable, attr, f"table.{attr}")
        self.patch(Manifest, "load", "manifest.load")
        self.patch(Manifest, "commit", "manifest.commit")
        original = session.load_table
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("iceberg_core_spark")
                    and getattr(mod, "load_table", None) is original):
                self.patch(mod, "load_table", "session.load_table")

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    # -- analysis ------------------------------------------------------
    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def per_op(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["op"] is not None and s["end"] is not None:
                out[s["op"]].append(s)
        return out

    @staticmethod
    def self_times(spans: list[dict]) -> dict[int, float]:
        """Span id → duration minus the union of its children's
        intervals (clipped to the span)."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out = {}
        for s in spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out


class JobCounter:
    """Spark jobs and tasks per operation, counted from the outside: the
    caller's job group plus any extra groups (a streaming query runs its
    micro-batches under its own run id) and ungrouped jobs, restricted to
    job ids newer than the operation's start."""

    IDLE = "perfbench-idle"

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.baseline = -1
        self.group = None

    def _ids(self, groups) -> set[int]:
        ids: set[int] = set()
        for g in groups:
            ids.update(self.tracker.getJobIdsForGroup(g))
        return ids

    def start(self, group: str) -> None:
        """Jobs that ran between operations (set-up, checks) are older
        than the new baseline and never counted."""
        self.baseline = max(self._ids([None, self.IDLE]) | {self.baseline})
        self.group = group
        self.sc.setJobGroup(group, group)

    def stop(self, extra_groups=()) -> tuple[int, int]:
        ids = {i for i in self._ids([None, self.group, *extra_groups])
               if i > self.baseline}
        tasks = 0
        for j in ids:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        self.sc.setJobGroup(self.IDLE, self.IDLE)
        return len(ids), tasks
