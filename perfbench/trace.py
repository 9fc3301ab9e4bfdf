"""In-memory spans around calls into the program's layers.

A span is ``(name, start, end, parent)`` plus the run's workload and
seed. Spans are kept in memory and written out as JSON once, when the
run ends. A span's self time is its duration minus the part of its
interval that its direct children cover.

``patched_layers`` wraps the public functions ``pipeline`` calls — the
snapshot store's read/anti-join/commit, the extractor and lineage
builders, the file merge — for the duration of one traced job, so the
job's internal boundaries get spans without any change to the program.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    workload: str
    seed: int


class Tracer:
    def __init__(self, workload: str, seed: int) -> None:
        self.workload = workload
        self.seed = seed
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.perf_counter(), 0.0, parent,
                   self.workload, self.seed)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_time(self, span: Span) -> float:
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == span.id)
        covered, cur_start, cur_end = 0.0, None, None
        for s, e in kids:
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = s, e
            else:
                cur_end = max(cur_end, e)
        if cur_end is not None:
            covered += cur_end - cur_start
        return (span.end - span.start) - covered

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def dump(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "seed": self.seed,
                       "spans": spans, "metrics": metrics}, fh, indent=1)


@contextlib.contextmanager
def patched_layers(tracer: Tracer):
    """Wrap the layer entry points ``pipeline`` calls with spans."""
    from ocr_agent_spark import pipeline
    from ocr_agent_spark.sources.snapshot import SnapshotStore

    targets = [
        (SnapshotStore, "read", "sources.snapshot.read"),
        (SnapshotStore, "anti_join_committed", "sources.snapshot.anti_join"),
        (SnapshotStore, "commit", "sources.snapshot.commit"),
        (pipeline, "extract_pages_auto", "operators.extract"),
        (pipeline, "lineage_from_extracted", "operators.extract.lineage"),
        (pipeline, "merge_extracted_to_file", "operators.merge"),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, name in targets:
            setattr(owner, attr, tracer.wrap(name, getattr(owner, attr)))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
