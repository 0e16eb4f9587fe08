"""Spans and Spark job labels recorded from the benchmark's own module.

The benchmark labels the Spark jobs its thread submits with
``workload/op/phase`` (``setJobGroup``; thread-local in PySpark's pinned
thread mode, so jobs from the engine's own threads stay unlabelled) and
times layer boundaries by temporarily wrapping public package methods.
With tracing off, every call here is a no-op and nothing is wrapped.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str  # layer call, e.g. "materialize", "catalog_read"
    key: str  # call detail, e.g. the table name
    start: float  # epoch seconds
    end: float
    thread: int


@contextmanager
def patched(owner, attr: str, make_wrapper):
    """Replace ``owner.attr`` with ``make_wrapper(original)`` for the block
    and put the original back afterwards, also on error.  A method the class
    no longer defines is left alone: its layer then reports no spans."""
    original = owner.__dict__.get(attr)
    if original is None:
        yield
        return
    setattr(owner, attr, make_wrapper(original))
    try:
        yield
    finally:
        setattr(owner, attr, original)


class Tracer:
    GROUP = "spark.jobGroup.id"

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self.label_s = 0.0  # time spent setting labels
        self.phase = ""  # "workload/op" prefix for catalog-write labels
        self._lock = threading.Lock()

    def label(self, name: str | None) -> None:
        """Label the calling thread's next Spark jobs (None clears)."""
        if not self.enabled or self.sc is None:
            return
        t0 = time.perf_counter()
        if name is None:
            self.sc.setLocalProperty(self.GROUP, None)
        else:
            self.sc.setJobGroup(name, name)
        with self._lock:
            self.label_s += time.perf_counter() - t0

    def current_label(self) -> str | None:
        return self.sc.getLocalProperty(self.GROUP) if self.sc is not None else None

    def record(self, name: str, key: str, start: float, end: float) -> None:
        with self._lock:
            self.spans.append(Span(name, key, start, end, threading.get_ident()))

    def spans_named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    # -- wrappers --------------------------------------------------------
    def _materialize_wrapper(self, original):
        @functools.wraps(original)
        def materialize(catalog, df, table, *args, **kwargs):
            prev = self.current_label()
            self.label(f"{self.phase}/materialize:{table}")
            t0 = time.time()
            try:
                return original(catalog, df, table, *args, **kwargs)
            finally:
                self.record("materialize", table, t0, time.time())
                self.label(prev)
        return materialize

    def _timed_wrapper(self, name: str):
        def make(original):
            @functools.wraps(original)
            def timed(*args, **kwargs):
                t0 = time.time()
                try:
                    return original(*args, **kwargs)
                finally:
                    self.record(name, "", t0, time.time())
            return timed
        return make

    @contextmanager
    def wrapping(self):
        """Wrap the catalog and engine calls whose spans feed the per-layer
        table: ``Catalog.materialize`` (labelled, per table),
        ``Catalog.read`` and ``Engine.corpus_tokens``."""
        if not self.enabled:
            yield
            return
        from oscar_spatial_index_compare_spark.engine import Engine
        from oscar_spatial_index_compare_spark.sources.catalog import Catalog

        with patched(Catalog, "materialize", self._materialize_wrapper), \
                patched(Catalog, "read", self._timed_wrapper("catalog_read")), \
                patched(Engine, "corpus_tokens", self._timed_wrapper("corpus_tokens")):
            yield
