"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own code around calls into the
library's public functions; nothing inside ``dce_spark`` is touched.
Each span has a name, start and end (``time.perf_counter`` seconds), the
id of the span that caused it and a trace id (a page url, a commit index
or a query name). Spans stay in memory and are written as JSON lines
when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        """Time the enclosed block as one span; nested spans get this
        span as parent. A disabled tracer records nothing."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "trace": trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, trace_id: str, start: float, end: float, parent=None) -> None:
        """Record a span whose bounds were observed after the fact (such
        as commit points read back from a manifest)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "trace": trace_id,
                               "parent": parent, "start": start, "end": end})

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of its interval that its
        children cover (children of one parent never overlap here,
        because spans are recorded on one thread)."""
        covered: dict[int, float] = {}
        for s in self.spans:
            p = s["parent"]
            if p is not None:
                covered[p] = covered.get(p, 0.0) + (s["end"] - s["start"])
        return {
            s["id"]: (s["end"] - s["start"]) - covered.get(s["id"], 0.0)
            for s in self.spans
        }

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write_jsonl(self, path) -> None:
        selfs = self.self_times()
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                out = dict(s)
                out["self"] = selfs[s["id"]]
                f.write(json.dumps(out, sort_keys=True) + "\n")
