"""In-memory span tracing for the benchmark's traced run.

The server launcher wraps public functions of the engine's modules
from outside (no engine file changes). Inside a traced HTTP request
each wrapped call records a span (name, start, end, parent, request
id); anywhere else a wrapper costs one attribute test. Spans stay in memory until the launcher dumps
them at the end of the run; `layer_report` turns them into per-layer
self times and counts.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        # span = [name, start_ns, end_ns, parent index | None, request id, value]
        self.spans: list[list] = []
        self.requests: dict[int, str] = {}  # request id -> kind
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def _open(self, name: str) -> int:
        stack = self._tls.stack
        span = [name, time.perf_counter_ns(), None, stack[-1] if stack else None, self._tls.rid, None]
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def _close(self, idx: int, value=None) -> None:
        self.spans[idx][2] = time.perf_counter_ns()
        self.spans[idx][5] = value
        self._tls.stack.pop()

    def request(self, kind: str, traced: bool, fn, *args):
        """Run one request; when `traced`, under a fresh request id and
        root span."""
        if not traced:
            return fn(*args)
        rid = next(self._ids)
        self.requests[rid] = kind
        self._tls.rid, self._tls.stack = rid, []
        idx = self._open("server.request")
        try:
            return fn(*args)
        finally:
            self._close(idx)
            self._tls.stack = None

    def request_id(self) -> int | None:
        return getattr(self._tls, "rid", None) if self.in_request() else None

    def in_request(self) -> bool:
        return getattr(self._tls, "stack", None) is not None

    def wrap(self, owner, attr: str, name: str, value=None) -> None:
        """Replace owner.attr with a traced twin. `value(result, args)`
        gives a number to keep on the span (bytes, rows)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.in_request():
                return fn(*args, **kwargs)
            idx = self._open(name)
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                self._close(idx, value(out, args) if value and out is not None else None)

        setattr(owner, attr, traced)


def covered_ns(start: int, end: int, intervals) -> int:
    """Length of the union of `intervals`, clipped to [start, end]."""
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, start), min(hi, end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans) -> list[int]:
    """Per span: its duration minus the part its children cover."""
    children = defaultdict(list)
    for i, s in enumerate(spans):
        if s[3] is not None:
            children[s[3]].append((s[1], s[2]))
    return [s[2] - s[1] - covered_ns(s[1], s[2], children[i]) for i, s in enumerate(spans)]


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def layer_report(spans) -> dict:
    """Aggregate the spans of finished requests: per span name its
    total inclusive and self time (ms), call count and summed value;
    per `parent>child` name pair the child's inclusive time; per layer
    its self time."""
    # a span still open (request in flight) counts as empty
    spans = [s if s[2] is not None else [s[0], s[1], s[1], *s[3:]] for s in spans]
    selfs = self_times(spans)
    by_name: dict[str, dict] = defaultdict(lambda: {"ms": 0.0, "self_ms": 0.0, "calls": 0, "value": 0.0})
    edges: dict[str, float] = defaultdict(float)
    by_layer: dict[str, float] = defaultdict(float)
    for s, own in zip(spans, selfs):
        d = by_name[s[0]]
        d["ms"] += (s[2] - s[1]) / 1e6
        d["self_ms"] += own / 1e6
        d["calls"] += 1
        d["value"] += s[5] or 0
        if s[3] is not None:
            edges[f"{spans[s[3]][0]}>{s[0]}"] += (s[2] - s[1]) / 1e6
        by_layer[layer_of(s[0])] += own / 1e6
    return {"names": dict(by_name), "edges": dict(edges), "layers": dict(by_layer)}

