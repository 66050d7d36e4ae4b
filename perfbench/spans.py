"""Per-layer spans, recorded from outside the server.

:class:`Tracer` wraps the public entry points of each server module
(class attributes and the names ``scheduler`` imports) for the length
of one traced phase, then restores them. A span is (name, start, end,
parent, job id, info); the parent is the enclosing span on the same
thread, and spans of one job share its id. Spans stay in memory and are
written out once, at the end of the run.

:class:`RunCounters` is the always-on part: cache builds and session
evictions are rare events that happen during warm-up as much as in a
timed phase, so they are counted for the whole run in both modes.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import SparkSession

from sparksql_server_spark.plans import analysis
from sparksql_server_spark.server import scheduler
from sparksql_server_spark.server.batcher import WindowBatcher
from sparksql_server_spark.server.cache import CacheManager
from sparksql_server_spark.server.results import ResultCache
from sparksql_server_spark.server.scheduler import BatchExecutor
from sparksql_server_spark.server.server import WorkSharingServer


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    job: int | None = None
    info: dict[str, Any] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class _Patches:
    """Attribute replacements, undone in reverse order."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def replace(self, owner: object, attr: str, make: Callable[[Callable], Callable]) -> None:
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        func = raw.__func__ if isinstance(raw, staticmethod) else raw
        new = make(func)
        setattr(owner, attr, staticmethod(new) if isinstance(raw, staticmethod) else new)
        self._saved.append((owner, attr, raw))

    def undo(self) -> None:
        while self._saved:
            owner, attr, raw = self._saved.pop()
            setattr(owner, attr, raw)


class RunCounters:
    """Cache builds (with their time) and session evictions, whole run."""

    def __init__(self) -> None:
        self.builds = 0
        self.build_ms: list[float] = []
        self.evictions = 0
        self._lock = threading.Lock()
        self._patches = _Patches()

    def install(self) -> None:
        counters = self

        def ensure_cached(func):
            def wrapper(self, source, *a, **kw):
                fresh = source not in self.cached_sources
                t0 = time.perf_counter()
                out = func(self, source, *a, **kw)
                if fresh and out:
                    with counters._lock:
                        counters.builds += 1
                        counters.build_ms.append((time.perf_counter() - t0) * 1e3)
                return out
            return wrapper

        def invalidate_session(func):
            # the gateway's only caller here is session eviction
            def wrapper(self, session_id):
                with counters._lock:
                    counters.evictions += 1
                return func(self, session_id)
            return wrapper

        self._patches.replace(CacheManager, "ensure_cached", ensure_cached)
        self._patches.replace(ResultCache, "invalidate_session", invalidate_session)

    def uninstall(self) -> None:
        self._patches.undo()


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.jobs: dict[int, Any] = {}  # job id -> QueryJob (submit/finish stamps)
        self.waits: list[list[float]] = []  # per drained batch: queue wait per job, ms
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches = _Patches()

    # -- span bookkeeping -------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, job: int | None = None, **info: Any) -> Span:
        stack = self._stack()
        span = Span(name, time.perf_counter(), parent=stack[-1] if stack else None,
                    job=job, info=info)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()

    def _wrap(self, name: str, before: Callable | None = None,
              after: Callable | None = None) -> Callable[[Callable], Callable]:
        """Span around a call; ``before(args) -> (job, info)`` and
        ``after(span, args, result)`` add attribution."""
        tracer = self

        def make(func):
            def wrapper(*args, **kw):
                job, info = before(args) if before else (None, {})
                span = tracer._open(name, job, **info)
                try:
                    out = func(*args, **kw)
                    if after is not None:
                        after(span, args, out)
                    return out
                finally:
                    tracer._close(span)
            return wrapper

        return make

    # -- installation -----------------------------------------------------

    def install(self) -> None:
        p = self._patches
        w = self._wrap

        def request_info(args):
            req = args[1] if len(args) > 1 else {}
            return None, {"sql": req.get("sql"), "session": req.get("session"),
                          "thread": threading.get_ident()}

        def request_done(span, args, out):
            span.info["cached"] = bool(out.get("cached"))

        def submitted(span, args, job):
            span.job = job.job_id
            self.jobs[job.job_id] = job
            # attribute the enclosing request to its job
            parent = self.spans[span.parent] if span.parent is not None else None
            if parent is not None:
                parent.job = job.job_id

        def job_of(args):
            return args[1].job_id, {}

        def bags_done(span, args, bags):
            span.info["jobs"] = sum(len(b.jobs) for b in bags)
            span.info["shared_jobs"] = sum(len(b.jobs) for b in bags if len(b.jobs) >= 2)

        def merges_done(span, args, plans):
            span.info["offered"] = len(args[0])

        def verdict(span, args, out):
            span.info["admit"] = bool(out)

        p.replace(WorkSharingServer, "handle_request",
                  w("server.handle_request", request_info, request_done))
        p.replace(WorkSharingServer, "session_for", w("server.session_for"))
        # session_for builds a named session with newSession(): a child
        # span marks the calls that created one
        p.replace(SparkSession, "newSession", w("server.new_session"))
        p.replace(WorkSharingServer, "submit", w("server.submit", after=submitted))
        p.replace(WindowBatcher, "next_batch", self._wrap_next_batch)
        p.replace(BatchExecutor, "run_batch", w("scheduler.run_batch"))
        p.replace(BatchExecutor, "analyze", w("scheduler.analyze", job_of))
        p.replace(scheduler, "detect_sharing", w("detector.detect_sharing", after=bags_done))
        p.replace(scheduler, "plan_merges", w("mrshare.plan_merges", after=merges_done))
        p.replace(CacheManager, "should_cache", w("cache.should_cache", after=verdict))
        p.replace(CacheManager, "ensure_cached", w("cache.ensure_cached"))
        p.replace(ResultCache, "key", w("results.key"))
        p.replace(ResultCache, "key_root", w("results.key"))
        p.replace(ResultCache, "get", w("results.get"))
        p.replace(ResultCache, "put", w("results.put"))
        for mod in (scheduler, analysis):
            p.replace(mod, "scan_fingerprints", w("plans.scan_fingerprints"))
            p.replace(mod, "scan_nodes", w("plans.scan_nodes"))

    def _wrap_next_batch(self, func):
        """The batch loop polls every 50 ms; only drains are recorded,
        as each drained job's wait since submit."""
        tracer = self

        def wrapper(self_, *a, **kw):
            batch = func(self_, *a, **kw)
            if batch:
                now = time.monotonic()
                with tracer._lock:
                    tracer.waits.append([(now - j.submitted_at) * 1e3 for j in batch])
            return batch
        return wrapper

    def uninstall(self) -> None:
        self._patches.undo()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"i": i, "name": s.name, "start": s.start, "end": s.end,
                                     "parent": s.parent, "job": s.job,
                                     "info": {k: v for k, v in s.info.items() if k != "sql"}})
                         + "\n")

    # -- analysis ---------------------------------------------------------

    def self_ms(self) -> dict[int, float]:
        """Span index -> its duration minus the time its children cover."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
        return {i: s.ms - child_ms.get(i, 0.0) for i, s in enumerate(self.spans)}
