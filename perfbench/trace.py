"""Span recorder for the traced run.

Spans are kept in memory and written out as JSON lines when the run
ends. Each span carries its name, start, end, parent, operation id and
the Spark status-store deltas of the jobs it launched itself (jobs,
tasks, input and shuffle-read records, shuffle read/write bytes, spill
bytes, executor run time).

Spark is lazy, so a layer's cost shows up at the action that consumes
it. The traced run therefore forces each layer's prefix of the plan
with a ``noop`` write. A forced prefix re-executes the prefixes before
it, so a span names the span it ``replays`` and its self time is

    duration - (time of child spans) - (duration of the replayed span).

The replayed work is tracing cost; ``accounting`` reports it beside the
remainder no span accounts for.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_STAGE_FIELDS = {
    "tasks": "numTasks",
    "run_ms": "executorRunTime",
    "input_records": "inputRecords",
    "shuffle_read_records": "shuffleReadRecords",
    "shuffle_read": "shuffleReadBytes",
    "shuffle_write": "shuffleWriteBytes",
    "spill_mem": "memoryBytesSpilled",
    "spill_disk": "diskBytesSpilled",
}


@dataclass
class Span:
    id: int
    name: str
    op: str | None
    parent: int | None
    replays: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a
    pass-through, so the untraced run executes exactly the program's
    calls and nothing more."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: str | None = None

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one benchmark operation."""
        if not self.enabled:
            yield None
            return
        self._op = op_id
        try:
            with self.span(name) as s:
                yield s
        finally:
            self._op = None

    @contextmanager
    def span(self, name: str, replays: Span | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        s = Span(
            id=len(self.spans),
            name=name,
            op=self._op,
            parent=self._stack[-1] if self._stack else None,
            replays=replays.id if replays is not None else None,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s.id)
        group = f"perfbench-span-{s.id}"
        sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"perfbench-span-{self._stack[-1]}", "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            s.attrs.update(self._stage_deltas(group))

    def force(self, name: str, df, replays: Span | None = None) -> Span | None:
        """Execute ``df``'s plan through the noop sink inside a span."""
        if not self.enabled:
            return None
        with self.span(name, replays=replays, forced=True) as s:
            df.write.format("noop").mode("overwrite").save()
        return s

    def _stage_deltas(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out = {k: 0 for k in _STAGE_FIELDS}
        jobs = tracker.getJobIdsForGroup(group)
        out["jobs"] = len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse earlier shuffle output
                for key, getter in _STAGE_FIELDS.items():
                    out[key] += int(getattr(st, getter)())
        return out

    # -- analysis ---------------------------------------------------------

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        t = s.duration - sum(c.duration for c in self.children(s))
        if s.replays is not None:
            t -= self.spans[s.replays].duration
        return t

    def inclusive(self, s: Span, key: str) -> int:
        return s.attrs.get(key, 0) + sum(self.inclusive(c, key) for c in self.children(s))

    def roots(self, name: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.parent is None and (name is None or s.name == name)]

    def descendants(self, s: Span) -> list[Span]:
        out = []
        for c in self.children(s):
            out.append(c)
            out.extend(self.descendants(c))
        return out

    def accounting(self, root: Span) -> dict:
        """Split one operation's traced wall time into layer self
        times, replayed prefix work and the unaccounted remainder."""
        layers = self.descendants(root)
        self_sum = sum(self.self_time(s) for s in layers)
        replay = sum(self.spans[s.replays].duration for s in layers if s.replays is not None)
        return {
            "wall": root.duration,
            "layer_self": self_sum,
            "replay": replay,
            "unaccounted": root.duration - self_sum - replay,
        }

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                rec = asdict(s)
                rec["self"] = self.self_time(s)
                fh.write(json.dumps(rec) + "\n")
