"""Spans around the calls into each layer, recorded from outside the program.

``Tracer.span`` records (name, path, parent, thread, start, end) in memory
and tags the Spark jobs the span starts with ``sc.setJobGroup(path, …)``,
so the event log can be folded per span. ``install`` wraps the public entry
points of the layers by replacing module attributes, including the names
other modules imported, and returns an ``uninstall`` callable. Nothing in
``graphiti_spark`` is edited.

Layers wrapped (span names in brackets):
  plans.pipeline.StageLedger.materialize            [<stage>]
  operators.er.candidate_pairs                      [er.candidate_pairs]
  operators.postings.candidate_pairs_from_postings  [er.candidate_pairs]
  operators.er.score_and_filter_pairs               [er.score]
  operators.components.connected_components         [cc]
  sinks.tables.upsert_table                         [upsert_table]
  plans.incremental.run_pipeline_incremental        [run_pipeline_incremental]

``streaming.ingest.start_ingest`` returns before its micro-batches run, so the
worker opens the ``start_ingest`` span itself, around start and drain.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        # DataFrames handed out by a layer, keyed by (root span, capture name)
        self.captured: dict[tuple[str, str], list] = {}
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> dict | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # a pool thread with no open span of its own: its work belongs to
        # whatever the main thread is doing
        return self._main_stack[-1] if self._main_stack else None

    def root(self) -> str:
        """Name of the outermost open span of the main thread."""
        return self._main_stack[0]["name"] if self._main_stack else ""

    @contextmanager
    def span(self, name: str):
        parent = self._parent()
        path = f"{parent['path']}/{name}" if parent else name
        rec = {
            "name": name,
            "path": path,
            "parent": parent["path"] if parent else None,
            "thread": threading.current_thread().name,
            "start": time.time(),
        }
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setJobGroup(path, name)
        stack = self._stack()
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if prev is None:
                self.sc.setLocalProperty(_GROUP, None)
            else:
                self.sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self.spans.append(rec)

    def add_span(self, name: str, parent: str, start: float, end: float, thread: str) -> None:
        """Record a span the program reported itself (phase timings, stream
        progress) rather than one opened around a call."""
        with self._lock:
            self.spans.append(
                {
                    "name": name,
                    "path": f"{parent}/{name}",
                    "parent": parent,
                    "thread": thread,
                    "start": start,
                    "end": end,
                }
            )

    def capture(self, key: str, value) -> None:
        with self._lock:
            self.captured.setdefault((self.root(), key), []).append(value)

    def innermost_main(self, t_s: float, under: str) -> str | None:
        """Path of the innermost span under ``under`` ("" for any) that was
        open at time ``t_s`` — where untagged work is placed. Spans of pool
        threads are not containers: only main-thread spans and reported
        phases are."""
        best = None
        for s in self.spans:
            if under and not (s["path"] == under or s["path"].startswith(under + "/")):
                continue
            if s["thread"] not in (threading.main_thread().name, "reported"):
                continue
            if s["start"] <= t_s < s["end"]:
                if best is None or s["path"].count("/") > best["path"].count("/"):
                    best = s
        return best["path"] if best else None


def install(tracer: Tracer):
    """Wrap the layer entry points; returns a callable that restores them."""
    from graphiti_spark.operators import components, er, postings
    from graphiti_spark.plans import incremental, pipeline
    from graphiti_spark.sinks import tables

    saved: list[tuple[object, str, object]] = []

    def patch(owners, attr, make):
        wrapped = make(getattr(owners[0], attr))
        for owner in owners:
            saved.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, wrapped)

    def materialize(orig):
        def wrapper(self, stage, build, **kw):
            with tracer.span(stage):
                out = orig(self, stage, build, **kw)
            tracer.capture(f"stage.{stage}", out)
            return out

        return wrapper

    def capturing(span_name, key):
        def make(orig):
            def wrapper(*args, **kw):
                with tracer.span(span_name):
                    out = orig(*args, **kw)
                tracer.capture(key, out)
                return out

            return wrapper

        return make

    def cc(orig):
        def wrapper(pairs, *args, **kw):
            with tracer.span("cc"):
                out = orig(pairs, *args, **kw)
            tracer.capture("cc", (pairs, out))
            return out

        return wrapper

    def spanned(span_name):
        def make(orig):
            def wrapper(*args, **kw):
                with tracer.span(span_name):
                    return orig(*args, **kw)

            return wrapper

        return make

    def incremental_run(orig):
        def wrapper(*args, **kw):
            with tracer.span("run_pipeline_incremental") as rec:
                stats = orig(*args, **kw)
            # the program reports its own phase durations; lay them end to
            # end from the span start so work can be placed in a phase by time
            t = rec["start"]
            for phase, dur in (stats.get("timings") or {}).items():
                tracer.add_span(f"inc.{phase}", rec["path"], t, t + dur, "reported")
                t += dur
            tracer.capture("inc.stats", stats)
            return stats

        return wrapper

    patch([pipeline.StageLedger], "materialize", materialize)
    patch([er], "candidate_pairs", capturing("er.candidate_pairs", "er.candidates"))
    patch(
        [postings, incremental],
        "candidate_pairs_from_postings",
        capturing("er.candidate_pairs", "er.candidates"),
    )
    patch([er, incremental], "score_and_filter_pairs", capturing("er.score", "er.accepted"))
    patch([components, pipeline, incremental], "connected_components", cc)
    patch([tables, incremental], "upsert_table", spanned("upsert_table"))
    patch([incremental], "run_pipeline_incremental", incremental_run)

    def uninstall() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall
