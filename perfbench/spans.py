"""Spans recorded from the benchmark's side of each layer boundary.

A span is (id, parent, name, start, end, attrs).  ``Tracer.span`` opens
one around a block; ``Tracer.wrap`` rebinds a public function of an
engine module — in every loaded module that imported it by name — so
each call records a span.  Nothing inside the engine changes.  Spans
stay in memory; ``run.py`` writes them into the result file at exit.

Recording is gated by ``Tracer.enabled`` so a traced process can run
some rounds untraced and measure the tracing overhead against them.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, name: str, on_call=None) -> None:
        """Record a span named ``name`` around every call of
        ``module.attr``.  ``on_call(attrs, args, kwargs, call)`` may run
        the call itself (``call()``) to collect counters into ``attrs``;
        its return value is the wrapped function's result."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as attrs:
                if on_call is None or not self.enabled:
                    return original(*args, **kwargs)
                return on_call(attrs, args, kwargs,
                               lambda: original(*args, **kwargs))

        for mod in list(sys.modules.values()):
            if getattr(mod, attr, None) is original:
                setattr(mod, attr, traced)
                self._patched.append((mod, attr, original))

    def unwrap_all(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span: its duration minus the part its children cover
    (children of one parent never overlap — calls are synchronous)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                       + s["end"] - s["start"])
    return {s["id"]: s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            for s in spans if s["end"] is not None}


def totals(spans: list[dict], name: str) -> tuple[float, int]:
    """Summed duration and call count of the spans called ``name``,
    counting only outermost ones (a recursive call is not re-counted)."""
    by_id = {s["id"]: s for s in spans}
    total, n = 0.0, 0
    for s in spans:
        if s["name"] != name or s["end"] is None:
            continue
        p = s["parent"]
        nested = False
        while p is not None and p in by_id:
            if by_id[p]["name"] == name:
                nested = True
                break
            p = by_id[p]["parent"]
        if not nested:
            total += s["end"] - s["start"]
            n += 1
    return total, n
