"""In-memory span tracer for the traced benchmark run.

Spans carry a name, start, end and the id of the span that was open on the
same thread when they started (their parent). They stay in memory until the
run ends; the per-layer metrics are computed from them afterwards.

Spans around engine calls come from wrappers this module installs on the
engine's public entry points at run time (``install``) and removes again
(the returned ``restore``), so no engine file changes. The benchmark's own
operations open spans with ``Tracer.span`` directly.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Iterator


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """Collects spans and counters; safe to use from several threads
    (Spark calls ``foreachBatch`` bodies on its own callback threads)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if getattr(self._local, "paused", False):
            yield
            return
        entered = time.monotonic()
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent))
                # the span's own cost, part of the tracing overhead
                self.counts["trace.bookkeeping_s"] += (
                    start - entered + time.monotonic() - end
                )

    def count(self, name: str, n: float = 1) -> None:
        if getattr(self._local, "paused", False):
            return
        with self._lock:
            self.counts[name] += n

    def clear(self) -> None:
        with self._lock:
            self.spans.clear()
            self.counts.clear()

    @contextmanager
    def paused(self) -> Iterator[None]:
        """Record nothing on this thread: for the benchmark's own probes
        (file stats, table detail) that call traced entry points."""
        prev = getattr(self._local, "paused", False)
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = prev

    # ------------------------------------------------------------ queries

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.named(name))

    def exclusive(self, name: str, minus: tuple[str, ...]) -> float:
        """Total time of ``name`` spans minus the part their direct
        children named in ``minus`` cover."""
        ids = {s.id: s for s in self.named(name)}
        own = sum(s.end - s.start for s in ids.values())
        covered = sum(
            s.end - s.start
            for s in self.spans
            if s.parent in ids and s.name in minus
        )
        return own - covered

    def split_by_parent(
        self, name: str, parent_name: str
    ) -> tuple[list[Span], list[Span]]:
        """(``name`` spans directly under a ``parent_name`` span, the rest)."""
        by_id = {s.id: s for s in self.spans}
        under, rest = [], []
        for s in self.named(name):
            p = by_id.get(s.parent)
            (under if p is not None and p.name == parent_name else rest).append(s)
        return under, rest


class NullTracer(Tracer):
    """The untraced run: same interface, records nothing."""

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield

    def count(self, name: str, n: float = 1) -> None:
        pass


def _data_files(manifest: dict) -> set[str]:
    return {
        rel
        for which in ("files", "delta_files")
        for rels in manifest.get(which, {}).values()
        for rel in rels
    }


def _added_rows_and_bytes(table, raw_manifest, version: int) -> tuple[int, int]:
    """Rows and bytes of the data files commit ``version`` added."""
    import pyarrow.parquet as pq

    added = _data_files(raw_manifest(table, version)) - _data_files(
        raw_manifest(table, version - 1)
    )
    rows = size = 0
    for rel in added:
        path = rel if os.path.isabs(rel) else os.path.join(table.data_dir, rel)
        rows += pq.read_metadata(path).num_rows
        size += os.path.getsize(path)
    return rows, size


def install(tracer: Tracer) -> Callable[[], None]:
    """Wrap the engine's public entry points with spans and counters.
    Returns a function that puts the originals back."""
    from nifi_dicom_spark.lake import commit as commit_mod
    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.operators import apply as apply_mod
    from nifi_dicom_spark.streaming import pipeline as pipeline_mod

    originals: list[tuple[object, str, object]] = []
    raw_manifest = SnapshotTable.manifest

    def patch(owner, attr: str, make: Callable) -> None:
        orig = getattr(owner, attr)
        originals.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def spanned(name: str):
        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return orig(*args, **kwargs)

            return wrapper

        return make

    def apply_changes(orig):
        def wrapper(table, *args, **kwargs):
            with tracer.span("operators.apply"):
                result = orig(table, *args, **kwargs)
            t0 = time.monotonic()
            if result.merge.applied:
                rows, _ = _added_rows_and_bytes(
                    table, raw_manifest, result.merge.version
                )
                tracer.count("operators.winners", rows)
            for r in result.metrics:
                tracer.count(
                    "operators.valid_events",
                    r["n_insert"] + r["n_update"] + r["n_delete"],
                )
                tracer.count("operators.quarantined_events", r["n_quarantined"])
            tracer.count("trace.bookkeeping_s", time.monotonic() - t0)
            return result

        return wrapper

    def compact(orig):
        def wrapper(self, *args, **kwargs):
            with tracer.span("lake.compact"):
                version = orig(self, *args, **kwargs)
            t0 = time.monotonic()
            if version is not None:
                _, size = _added_rows_and_bytes(self, raw_manifest, version)
                tracer.count("lake.compact_bytes_rewritten", size)
            tracer.count("trace.bookkeeping_s", time.monotonic() - t0)
            return version

        return wrapper

    def manifest(orig):
        def wrapper(*args, **kwargs):
            tracer.count("lake.manifest_calls")
            with tracer.span("lake.manifest"):
                return orig(*args, **kwargs)

        return wrapper

    def try_commit(orig):
        def wrapper(*args, **kwargs):
            tracer.count("commit.try_commit_calls")
            with tracer.span("commit.try_commit"):
                ok = orig(*args, **kwargs)
            if not ok:
                tracer.count("commit.conflicts")
            return ok

        return wrapper

    patch(apply_mod, "apply_changes", apply_changes)
    # the pipeline module bound the name at import time
    patch(pipeline_mod, "apply_changes", apply_changes)
    patch(SnapshotTable, "merge", spanned("lake.merge"))
    patch(SnapshotTable, "compact", compact)
    patch(SnapshotTable, "manifest", manifest)
    patch(commit_mod.PosixCommitBackend, "try_commit", try_commit)

    def restore() -> None:
        for owner, attr, orig in reversed(originals):
            setattr(owner, attr, orig)

    return restore


def progress_listener():
    """A StreamingQueryListener that keeps every query progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def settle(self, quiet_s: float = 0.5, limit_s: float = 10.0) -> None:
            """Wait until the listener bus has delivered the last report."""
            end = time.monotonic() + limit_s
            seen = -1
            while len(self.events) != seen and time.monotonic() < end:
                seen = len(self.events)
                time.sleep(quiet_s)

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()
