"""In-memory span tracer driven from the benchmark's own files.

The program is not edited: ``Tracer.wrap`` replaces a module attribute or
class method with a wrapper that records a span around each call, and
``Tracer.restore`` puts the originals back. A span records its name, start,
end, parent span and op id. While a span is open on a thread, Spark's job
description on that thread is ``pb:<span id>``, so the jobs (and through
them the SQL metrics) in the event log fold back onto spans
(see ``eventlog.py``).

Self time of a span = its duration minus the part of its interval covered
by its child spans (``self_times``).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time

DESC_PREFIX = "pb:"


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[dict] = []
        self.op = "setup"  # op id given to root spans opened on any thread
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def start(self, name: str, op=None) -> dict:
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        if op is None:
            op = parent["op"] if parent is not None else self.op
        span = {"id": sid, "name": name, "parent": parent["id"] if parent is not None else None,
                "op": op, "t0": time.time(), "t1": None}
        stack.append(span)
        if self.sc is not None:
            span["_prev_desc"] = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobDescription(f"{DESC_PREFIX}{sid}")
        return span

    def end(self, span: dict) -> None:
        span["t1"] = time.time()
        stack = self._local.__dict__.setdefault("stack", [])
        if stack and stack[-1] is span:
            stack.pop()
        if self.sc is not None:
            self.sc.setJobDescription(span.pop("_prev_desc", None))
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str):
        span = self.start(name)
        try:
            yield span
        finally:
            self.end(span)

    def wrap(self, owner, attr: str, name: str, op_of=None, on_return=None) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``.

        ``op_of(args, kwargs)`` may name the op the call starts (a stream
        micro-batch); ``on_return(span, result, args, kwargs)`` may add
        attributes after the span has ended (so its own cost is untimed)."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            span = tracer.start(name, op=op_of(args, kwargs) if op_of is not None else None)
            try:
                result = original(*args, **kwargs)
            finally:
                tracer.end(span)
            if on_return is not None:
                on_return(span, result, args, kwargs)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {
        s["id"]: (s["t1"] - s["t0"]) - covered(children.get(s["id"], []), s["t0"], s["t1"])
        for s in spans
    }
