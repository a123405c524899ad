"""In-memory spans around the benchmark's own calls into each layer.

A span records its name, start, end, the span open on the same thread
when it began (its parent) and the run id.  Spans stay in memory and
are written out once, as JSON lines, when the run ends.  A disabled
tracer records nothing.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            **attrs,
        }
        stack.append(span["id"])
        try:
            yield
        finally:
            stack.pop()
            span["end"] = time.time()
            with self._lock:
                self.spans.append(span)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for span in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(span) + "\n")
