"""In-memory span recorder for the traced run.

``SpanRecorder.wrap`` replaces a module attribute with a wrapper that
records one span per call: name, start, end, parent span and the
benchmark op it belongs to. The package's own functions resolve their
callees through module globals at call time, so wrapping
``pipeline.promote`` also records the call ``run_for_date`` makes to it.
``restore`` puts every original back. Spans stay in memory until
``write`` dumps them as JSON once the run ends.

The untraced run never creates a recorder, so it runs the package
unwrapped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict


class SpanRecorder:
    def __init__(self):
        self.spans: list[dict] = []
        self.op = -1  # index of the measured op in progress; -1 = set-up
        self._local = threading.local()  # per-thread stack of open span ids
        self._lock = threading.Lock()
        self._originals: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "op": self.op, "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._originals.append((module, attr, original))
        setattr(module, attr, traced)

    def restore(self) -> None:
        for module, attr, original in reversed(self._originals):
            setattr(module, attr, original)
        self._originals.clear()

    def per_op(self) -> dict[int, dict[str, float]]:
        """Summed span seconds per measured op and span name."""
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["op"] >= 0 and s["end"] is not None:
                out[s["op"]][s["name"]] += s["end"] - s["start"]
        return out

    def durations(self, name: str, measured_only: bool = True) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (s["op"] >= 0 or not measured_only)]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
