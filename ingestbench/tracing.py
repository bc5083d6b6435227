"""Spans and counters around the engine's layer entry points.

The engine is not edited: ``Tracer.install`` wraps methods on the engine's
classes from here and ``uninstall`` restores them. A wrapper records a span
only while the tracer is active, so a traced run can alternate traced and
untraced batches in one process and report the difference as overhead.

Spans carry name, start, end, parent and the id of the operation (batch or
scan) they belong to; they stay in memory until the run writes them out.
"""

from __future__ import annotations

import functools
import inspect
import json
import threading
import time


class Span:
    __slots__ = ("op", "name", "start", "end", "parent", "attrs")

    def __init__(self, op, name, start, parent, attrs):
        self.op = op
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.attrs = attrs

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def _commit_attrs(args, kwargs):
    # _commit_snapshot(operation, data_files, delete_files, summary, branch)
    data = args[1] if len(args) > 1 else kwargs.get("data_files", [])
    deletes = args[2] if len(args) > 2 else kwargs.get("delete_files", [])
    return {
        "data_files": len(data),
        "delete_files": len(deletes),
        "bytes": sum(int(f.get("bytes") or 0) for f in list(data) + list(deletes)),
    }


def _read_group_attrs(args, kwargs):
    # _read_file_group(spark, files, target): files are grouped the way the
    # engine groups them, by (sequence number, write base dir, format)
    files = args[1] if len(args) > 1 else kwargs.get("files", [])
    groups = {(f.get("seq"), f.get("base"), f.get("format", "parquet")) for f in files}
    return {"file_groups": len(groups)}


def _apply_deletes_attrs(args, kwargs):
    deletes = args[2] if len(args) > 2 else kwargs.get("delete_files", [])
    return {"delete_files": len(deletes)}


def layer_points():
    """(owner class, attribute, span name, attrs-from-args) per boundary."""
    from iceberg_kafka_connect_spark.sinks.table import LakehouseTable
    from iceberg_kafka_connect_spark.streaming.pipeline import SinkPipeline

    return [
        (SinkPipeline, "_stats", "streaming.parse_stats", None),
        (SinkPipeline, "_route", "routing.route", None),
        (SinkPipeline, "_last_batch_id", "streaming.idempotence", None),
        # write vs commit inside append/upsert has no public boundary:
        # _write_files and _commit_snapshot bound the two phases
        (LakehouseTable, "append", "sinks.append", None),
        (LakehouseTable, "upsert", "sinks.upsert", None),
        (LakehouseTable, "_write_files", "sinks.write_files", None),
        (LakehouseTable, "_commit_snapshot", "sinks.commit", _commit_attrs),
        (LakehouseTable, "_write_version", "sinks.write_version", None),
        (LakehouseTable, "metadata", "sinks.metadata", None),
        (LakehouseTable, "_read_file_group", "sinks.read_file_group", _read_group_attrs),
        (LakehouseTable, "_apply_deletes", "sinks.apply_deletes", _apply_deletes_attrs),
    ]


class Tracer:
    """Operations run on the main thread; the engine may fan work out to
    threads of its own (an upsert writes its delete and data files
    concurrently). Each thread keeps its own span stack, and a span opened
    on another thread with nothing open there is parented to the span open
    on the main thread. Concurrent spans of one layer add up, so a layer's
    time is its busy time."""

    def __init__(self):
        self.spans: list[Span] = []
        self.active = False
        self.op = None
        self._main: list[int] = []  # the main thread's span stack
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    # ------------------------------------------------------------ spans
    def begin(self, name, attrs=None) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            self.spans.append(Span(self.op, name, time.perf_counter(), parent, attrs or {}))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx) -> None:
        """End span ``idx`` and any child a raised exception left open."""
        now = time.perf_counter()
        stack = self._stack()
        while stack:
            top = stack.pop()
            self.spans[top].end = now
            if top == idx:
                return

    def _wrap(self, fn, name, attrs_of, bound=True):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            # attrs helpers see the call's own arguments, without ``self``
            call_args = args[1:] if bound else args
            idx = tracer.begin(name, attrs_of(call_args, kwargs) if attrs_of else None)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        return wrapper

    def install(self, points) -> None:
        for owner, attr, name, attrs_of in points:
            raw = inspect.getattr_static(owner, attr)
            self._saved.append((owner, attr, raw))
            if isinstance(raw, staticmethod):
                wrapped = self._wrap(raw.__func__, name, attrs_of, bound=False)
                setattr(owner, attr, staticmethod(wrapped))
            else:
                setattr(owner, attr, self._wrap(raw, name, attrs_of))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            setattr(owner, attr, raw)
        self._saved.clear()

    # ---------------------------------------------------------- summary
    def self_ms(self) -> list[float]:
        """Per span: its duration minus the part of its interval that its
        direct children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for k, s in enumerate(self.spans):
            covered, last_end = 0.0, s.start
            for c in sorted(children.get(k, []), key=lambda c: c.start):
                lo, hi = max(c.start, last_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last_end = hi
            out.append((s.end - s.start - covered) * 1000.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "spans": [
                        {
                            "op": s.op,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            **s.attrs,
                        }
                        for s in self.spans
                    ],
                },
                f,
            )

