"""Spans recorded from outside the program: the traced run wraps calls into
the public functions of ``punt_spark``'s modules, keeps the spans in
memory, and tags every Spark job a span submits with the span's id (a
thread-local Spark property), so the event log's task metrics can be
attributed to the innermost span afterwards.

Spans on lazy layers (parse, route, transform, enrich, write layout,
alert rollup) time plan building only; their execution cost is measured
by the prefix legs in ``layers.py``.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from contextlib import contextmanager

from .stats import SPAN_PROPERTY


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    """In-memory span recorder. Wrappers installed by ``install`` are
    pass-throughs while ``enabled`` is False, so traced and untraced
    operations can alternate inside one session."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its attrs dict (callers may add to it).
        A span opened on a pool or callback thread with nothing open on
        that thread is parented to the innermost span open on the main
        thread — the call that fanned the work out."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            sid = next(self._ids)
        sc = _spark_context()
        if sc is not None:
            sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        stack.append(sid)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "run": self.run_id,
            "attrs": dict(attrs),
        }
        rec["start"] = time.time()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.time()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(
                    SPAN_PROPERTY, str(stack[-1]) if stack else None
                )
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, describe=None):
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``describe(args, result) -> dict`` adds attributes after the call
        returns, outside the span's timed interval."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name) as attrs:
                result = orig(*args, **kwargs)
            if describe is not None:
                attrs.update(describe(args, result))
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self):
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install(self):
        """Wrap every layer boundary the per-layer table reads."""
        import punt_spark.dataops.curation as curation
        import punt_spark.pipeline as pipeline
        import punt_spark.streaming as streaming
        from punt_spark.sink import SnapshotTable

        for mod in (pipeline, streaming):
            for fn in (
                "with_parsed",
                "route",
                "apply_transformer",
                "apply_mutators",
                "salted_write_layout",
                "rollup_all",
                "render_actions",
            ):
                self.wrap(mod, fn, fn)
        self.wrap(pipeline.Pipeline, "run", "Pipeline.run")
        self.wrap(
            streaming.StreamingPipeline,
            "run_available_now",
            "StreamingPipeline.run_available_now",
        )
        self.wrap(
            pipeline.MetricsPlumbing, "_record_scan_stats", "metrics.scan_stats"
        )
        self.wrap(SnapshotTable, "commit", "SnapshotTable.commit", _describe_commit)
        self.wrap(
            SnapshotTable, "commit_batch", "SnapshotTable.commit_batch", _describe_commit
        )
        self.wrap(SnapshotTable, "read", "SnapshotTable.read", _describe_read)
        self.wrap(curation, "curate_corpus", "curate_corpus")


def _describe_commit(args, result) -> dict:
    table = args[0]
    manifests = [result] if "files" in result else list(result.values())
    files = [f for m in manifests for f in m.get("files", [])]
    nbytes = 0
    for f in files:
        try:
            nbytes += os.path.getsize(os.path.join(table.root, f))
        except OSError:
            pass
    return {
        "table": os.path.basename(table.root.rstrip("/")),
        "files": len(files),
        "bytes": nbytes,
        "rows": sum(m.get("lineage", {}).get("n_rows", 0) for m in manifests),
    }


def _describe_read(args, result) -> dict:
    table = args[0]
    snaps = table.snapshots()
    return {
        "table": os.path.basename(table.root.rstrip("/")),
        "manifests": len(snaps),
        "files": sum(len(m.get("files", [])) for m in snaps.values()),
    }
