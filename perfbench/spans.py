"""In-memory span tracer used by traced benchmark runs.

Spans are recorded around calls into the program's layers by wrapping
module attributes from the outside (no program source is edited), kept
in memory, and written out once when the run ends. Each span carries a
name, start, end, parent and run id.

Three kinds of span exist:

- ``call``: a wrapped function call, or a benchmark operation. These form
  the tree that self time is computed over.
- ``sink``: a DataFrameWriter.parquet call. Used as a phase boundary only
  (the pipeline writes metrics/events/lineage inline, so the end of each
  write is the only outside-visible phase edge); not a child for self time.
- ``phase``: synthetic pipeline phases rebuilt from call/sink boundaries.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: pipeline phases in the order run_pipeline executes them per chunk,
#: each with the span whose END closes it
PHASES = (
    ("transform_write", "sources.write_partitioned"),
    ("metrics", "sink.metrics"),
    ("drift", "sink.events"),
    ("counts_lineage", "sink.lineage"),
    ("manifest", "sources.commit_partitions"),
)


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    kind: str = "call"
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for one run. Not thread-safe: the pipeline code it
    wraps runs on one thread."""

    def __init__(self, run_id: str, clock=time.time):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._clock = clock

    @contextmanager
    def span(self, name: str, kind: str = "call", **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, self._clock(), float("nan"), parent, self.run_id,
                 kind, dict(attrs))
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self._clock()

    def wrap(self, owner, attr: str, name: str, kind: str = "call",
             name_fn=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        ``restore``. ``name_fn(args, kwargs)`` may refine the span name."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            n = name_fn(args, kwargs) if name_fn else name
            with self.span(n, kind=kind):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def wrap_module(self, module, prefix: str) -> None:
        """Wrap every public function defined in ``module``."""
        for attr, obj in list(vars(module).items()):
            if (callable(obj) and not attr.startswith("_")
                    and getattr(obj, "__module__", None) == module.__name__
                    and not isinstance(obj, type)):
                self.wrap(module, attr, f"{prefix}.{attr}")

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each ``call`` span: its duration minus the part of its
    interval covered by its ``call`` children (clipped to the parent)."""
    calls = {s.sid: s for s in spans if s.kind == "call"}
    kids: dict[int, list[tuple[float, float]]] = {sid: [] for sid in calls}
    for s in calls.values():
        if s.parent in calls:
            p = calls[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids[s.parent].append((lo, hi))
    return {sid: s.duration - _union_length(kids[sid])
            for sid, s in calls.items()}


def bucket(times: dict[int, float], spans: list[Span],
           kinds: tuple[str, ...] = ("call",)) -> dict[int, int | None]:
    """Map each event (e.g. a Spark job by submission time) to the
    innermost span of the given kinds whose [start, end) contains it:
    the containing span that started last. None when no span contains it."""
    cand = sorted((s for s in spans if s.kind in kinds),
                  key=lambda s: (s.start, s.sid))
    out: dict[int, int | None] = {}
    for key, t in times.items():
        best = None
        for s in cand:
            if s.start > t:
                break
            if t < s.end:
                best = s.sid
        out[key] = best
    return out


def phase_spans(tracer: Tracer, pipeline_span: Span) -> list[Span]:
    """Rebuild per-chunk phase intervals for one run_pipeline call.

    A chunk starts where the previous chunk's manifest commit ended; the
    first chunk starts at run_pipeline's first own fingerprint call (not
    the planner's). Each phase ends where its closing span (PHASES) ends.
    Everything before the first chunk is a ``plan`` phase."""
    inside = [s for s in tracer.spans
              if s.start >= pipeline_span.start and s.end <= pipeline_span.end
              and s.sid != pipeline_span.sid]
    loop_fps = [s for s in inside if s.name == "sources.partition_fingerprint"
                and s.parent == pipeline_span.sid]
    out: list[Span] = []
    if not loop_fps:
        return out
    edge = loop_fps[0].start
    out.append(Span(-1, "phase.plan", pipeline_span.start, edge,
                    pipeline_span.sid, tracer.run_id, "phase"))
    enders = {closer: sorted((s for s in inside if s.name == closer),
                             key=lambda s: s.start)
              for _, closer in PHASES}
    chunk = 0
    while all(len(v) > chunk for v in enders.values()):
        for phase, closer in PHASES:
            end = enders[closer][chunk].end
            out.append(Span(-1, f"phase.{phase}", edge, end, pipeline_span.sid,
                            tracer.run_id, "phase", {"chunk": chunk}))
            edge = end
        chunk += 1
    return out
