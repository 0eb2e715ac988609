"""In-memory spans and counters for the traced run.

Spans are recorded in the benchmark's own code around calls into the
engine's layers; nothing inside ``tuplex_spark`` is instrumented.  Each
span has a name, start, end, parent span and the trace (execution) it
belongs to.  ``dump`` writes everything to one JSON file when the run
ends, with each span's self time: its duration minus the part of it that
its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """Records spans; a span opened with ``group`` also starts a Spark job
    group, so the jobs an engine call ran can be looked up afterwards."""

    def __init__(self, sc=None):
        self._sc = sc
        self.spans: list[dict] = []
        self.counters: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = 0

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        rec = {"id": len(self.spans), "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": None, "start": time.perf_counter(), "end": None}
        if group is not None and self._sc is not None:
            rec["group"] = f"t{self.trace_id}-{group}"
            self._sc.setJobGroup(rec["group"], name)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value) -> None:
        self.counters.append({"trace": self.trace_id, "name": name,
                              "value": value})

    def groups(self, trace_id: int) -> dict[str, list[str]]:
        """Span name -> job groups opened under it in one trace."""
        out: dict[str, list[str]] = {}
        for s in self.spans:
            if s["trace"] == trace_id and s["group"]:
                out.setdefault(s["name"], []).append(s["group"])
        return out

    def durations(self, name: str, trace_id: int) -> float:
        """Total duration of the spans called ``name`` in one trace."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["trace"] == trace_id and s["name"] == name)

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s["id"], []),
                            key=lambda c: c["start"]):
                if cur_end is None or c["start"] > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c["start"], c["end"]
                else:
                    cur_end = max(cur_end, c["end"])
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self.self_times()
        spans = [dict(s, self=selfs[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counters": self.counters,
                       **(extra or {})}, f, indent=1)


class NullTracer:
    """Tracing off: spans cost one call and record nothing."""

    _NULL = contextlib.nullcontext()

    def span(self, name: str, group: str | None = None):
        return self._NULL
