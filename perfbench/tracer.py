"""In-memory span tracer that wraps the package's public functions.

Nothing under ``cardano_spark/`` is edited: :meth:`Tracer.wrap`
replaces a module or class attribute with a wrapper that opens a span
around the original call, and :meth:`Tracer.unpatch` puts every
original back. A name imported with ``from x import f`` is a separate
binding in the importing module, so the wrapper must be installed
where the caller looks the name up.

Each span sets the Spark job group to itself while it is the
innermost open span, so every Spark job is counted once, against the
layer whose call triggered the action. A span around a function that
returns a lazy DataFrame therefore measures plan construction only;
the execution lands in the span that runs the action.

A layer's self time is its spans' durations minus the time covered
by their child spans. Counting done for the trace itself (file
listings, parquet footers) runs in ``trace.bookkeeping`` spans, so it
is carved out of the layer it would otherwise inflate; with the time
spent setting job groups it is reported as the tracing overhead.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager

BOOKKEEPING = "trace.bookkeeping"
OVERHEAD = "trace.overhead_s"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.counters: dict[tuple[str, str], float] = defaultdict(float)
        self.trace_id = "setup"
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str) -> Iterator[dict]:
        idx = len(self.spans)
        rec = {
            "name": name,
            "trace": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"{name}#{idx}",
        }
        self.spans.append(rec)
        self._stack.append(idx)
        t_open = time.perf_counter()
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = len(
                self.sc.statusTracker().getJobIdsForGroup(rec["group"])
            )
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer["group"], outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            # the span's own JVM calls, outside its measured interval
            self.count(OVERHEAD, rec["start"] - t_open + time.perf_counter() - rec["end"])

    def count(self, name: str, value: float = 1) -> None:
        self.counters[(self.trace_id, name)] += value

    # -- patching ------------------------------------------------------

    def wrap(
        self,
        owner: object,
        attr: str,
        layer: str,
        probe: Callable[[tuple, dict], Callable[[object], None] | None] | None = None,
    ) -> None:
        """Route ``owner.attr`` through a span named ``layer``.

        ``probe(args, kwargs)`` runs before the call and may return a
        callback that receives the result after it; both run as
        bookkeeping."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            after = None
            if probe is not None:
                with tracer.span(BOOKKEEPING):
                    after = probe(args, kwargs)
            with tracer.span(layer):
                result = original(*args, **kwargs)
            if after is not None:
                with tracer.span(BOOKKEEPING):
                    after(result)
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- reports -------------------------------------------------------

    def _own_times(self) -> list[float]:
        """Each span's duration minus the time its children cover."""
        own = [rec["end"] - rec["start"] for rec in self.spans]
        for rec in self.spans:
            if rec["parent"] is not None:
                own[rec["parent"]] -= rec["end"] - rec["start"]
        return own

    def overhead_s(self, traces: list[str]) -> float:
        """Time the tracer spent on itself within the given traces."""
        own = self.self_times()
        return sum(own.get((t, BOOKKEEPING), 0.0) + self.counters.get((t, OVERHEAD), 0.0) for t in traces)

    def self_times(self) -> dict[tuple[str, str], float]:
        """(trace id, span name) -> summed self time in seconds."""
        out: dict[tuple[str, str], float] = defaultdict(float)
        for rec, own in zip(self.spans, self._own_times()):
            out[(rec["trace"], rec["name"])] += own
        return out

    def totals(self, key: str) -> dict[tuple[str, str], float]:
        """(trace id, span name) -> summed duration (``key="s"``),
        call count (``"calls"``) or Spark jobs (``"jobs"``)."""
        out: dict[tuple[str, str], float] = defaultdict(float)
        for rec in self.spans:
            k = (rec["trace"], rec["name"])
            if key == "s":
                out[k] += rec["end"] - rec["start"]
            elif key == "calls":
                out[k] += 1
            else:
                out[k] += rec["jobs"]
        return out

    def roots(self, traces: list[str]) -> tuple[float, float]:
        """Summed wall time of the root spans in the given traces, and
        the part of it that no child span covers."""
        wall = unattributed = 0.0
        for rec, own in zip(self.spans, self._own_times()):
            if rec["parent"] is None and rec["trace"] in traces:
                wall += rec["end"] - rec["start"]
                unattributed += own
        return wall, unattributed

    def breakdown(self) -> list[str]:
        """Per trace id: wall time of the root spans, each layer's self
        time, and the roots' own self time as the unattributed rest."""
        by_trace: dict[str, dict[str, float]] = {}
        for rec, own in zip(self.spans, self._own_times()):
            row = by_trace.setdefault(rec["trace"], defaultdict(float))
            if rec["parent"] is None:
                row["(wall)"] += rec["end"] - rec["start"]
                row["(unattributed)"] += own
            else:
                row[rec["name"]] += own
        lines = []
        for trace, row in by_trace.items():
            parts = sorted(((v, k) for k, v in row.items() if k != "(wall)"), reverse=True)
            lines.append(
                f"{trace}: wall {row['(wall)']:.3f} s = "
                + " + ".join(f"{k} {v:.3f}" for v, k in parts)
            )
        return lines

    def write(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w", encoding="utf-8") as f:
            for i, rec in enumerate(self.spans):
                row = {
                    "id": i,
                    "trace": rec["trace"],
                    "name": rec["name"],
                    "parent": rec["parent"],
                    "start_s": round(rec["start"] - t0, 6),
                    "end_s": round(rec["end"] - t0, 6),
                    "spark_jobs": rec["jobs"],
                }
                f.write(json.dumps(row) + "\n")
            for (trace, name), value in sorted(self.counters.items()):
                f.write(json.dumps({"trace": trace, "counter": name, "value": value}) + "\n")
