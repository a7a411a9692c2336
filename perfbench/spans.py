"""Spans around calls into the engine's public layer functions.

``Tracer.install()`` wraps, for the duration of one crawl, the module
attributes the wave loop calls through (``operators.*``, ``bloom.update``)
and the state store's write/commit methods.  Each wrapped call records a
span (name, start, end, thread, parent = innermost open span on that
thread) and labels the Spark jobs it submits through the job-description
local property, so the event log can be joined back to the spans.

Lazy operators (``fetch_extract``, ``decode_images``) only build plans:
their spans measure plan construction; their executor time shows up in
the event-log metrics and the scheduler pool they ran in.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager

JOB_DESC = "spark.job.description"
LABEL_PREFIX = "perfbench:"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._tl = threading.local()

    @contextmanager
    def span(self, name: str):
        stack = self._tl.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "thread": threading.current_thread().name,
            "parent": stack[-1]["name"] if stack else None,
            "start": time.time(),
        }
        prev = self.sc.getLocalProperty(JOB_DESC)
        self.sc.setLocalProperty(JOB_DESC, LABEL_PREFIX + name)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            self.sc.setLocalProperty(JOB_DESC, prev)
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, fn, name_of):
        def wrapped(*a, **kw):
            with self.span(name_of(a)):
                return fn(*a, **kw)

        wrapped.__wrapped__ = fn
        return wrapped

    @contextmanager
    def install(self):
        """Wrap the layer entry points; restore the originals on exit."""
        from spider_1_spark.engine import bloom, operators
        from spider_1_spark.engine.state import ParquetSnapshotStore as Store

        const = lambda n: (lambda a: n)  # noqa: E731
        patches = [
            (operators, "ingest_seed_frame", const("operators.ingest")),
            (operators, "candidate_set", const("operators.rank")),
            (operators, "with_global_rank", const("operators.rank")),
            (operators, "fetch_extract", const("operators.fetch_extract")),
            (operators, "decode_images", const("operators.decode_images")),
            (bloom, "update", const("bloom.update")),
            # unbound methods: a[0] is the store, a[1] the table name
            (Store, "write_version", lambda a: f"state.write.{a[1]}"),
            (Store, "write_wave", lambda a: f"state.write.{a[1]}"),
            (Store, "commit", const("state.commit")),
        ]
        saved = [(obj, attr, obj.__dict__[attr]) for obj, attr, _ in patches]
        try:
            for obj, attr, name_of in patches:
                setattr(obj, attr, self._wrap(getattr(obj, attr), name_of))
            yield self
        finally:
            for obj, attr, orig in saved:
                setattr(obj, attr, orig)

    # ------------------------------------------------------- summaries

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def commit_times(self) -> list[float]:
        return sorted(s["end"] for s in self.spans if s["name"] == "state.commit")
