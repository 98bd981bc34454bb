"""Span recording and per-layer Spark attribution for the traced run.

Each span wraps one call into the program from the benchmark's own code.
A span runs under its own Spark job group, so after the run the jobs it
launched, their stages, tasks, executor run time and shuffle bytes are
read back from Spark's status tracker and status store (no UI needed).
Spans are kept in memory and written out when the run ends.

With ``enabled=False`` a span costs one ``perf_counter`` pair and sets
no job group, which is how the untimed-tracing runs are made.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYER_FIELDS = ("busy_s", "jobs", "tasks", "shuffle_bytes", "self_s")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    group: str

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    sc: object
    run_id: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        """Time ``name``; when enabled, tag its Spark jobs with a job group."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}.{idx}.{name}"
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id, group))
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.group, outer.name)
            else:
                self.sc._jsc.clearJobGroup()

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def self_times(self) -> list[float]:
        """Span duration minus the part its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        return [s.duration - c for s, c in zip(self.spans, child)]

    def spark_layers(self) -> dict[str, dict[str, float]]:
        """Per span name: busy_s = executor run time of the stages its own
        jobs ran, jobs, tasks, shuffle_bytes (written) and self_s."""
        tracker = self.sc.statusTracker()
        gw = self.sc._gateway
        stages = self.sc._jsc.sc().statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None
        )
        by_stage: dict[int, list] = {}
        for i in range(stages.length()):
            sd = stages.apply(i)
            by_stage.setdefault(sd.stageId(), []).append(sd)
        out: dict[str, dict[str, float]] = {}
        seen: set[int] = set()  # a reused shuffle stage counts once, where it ran
        for s, self_t in zip(self.spans, self.self_times()):
            layer = out.setdefault(s.name, dict.fromkeys(LAYER_FIELDS, 0.0))
            layer["self_s"] += self_t
            for jid in sorted(tracker.getJobIdsForGroup(s.group)):
                layer["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in sorted(set(info.stageIds) - seen) if info else ():
                    seen.add(sid)
                    for sd in by_stage.get(sid, ()):
                        layer["busy_s"] += sd.executorRunTime() / 1000.0
                        layer["tasks"] += sd.numCompleteTasks()
                        layer["shuffle_bytes"] += sd.shuffleWriteBytes()
        return out

    def coverage(self, top: str) -> dict[str, float]:
        """Sum of the self times of every span under the ``top`` spans
        against those spans' wall; the remainder is the top spans' own
        self time, i.e. the benchmark's glue between program calls."""
        selfs = self.self_times()
        under = [False] * len(self.spans)
        wall = 0.0
        covered = 0.0
        for i, s in enumerate(self.spans):
            if s.name == top:
                wall += s.duration
            elif s.parent is not None and (under[s.parent] or self.spans[s.parent].name == top):
                under[i] = True
                covered += selfs[i]
        return {"wall_s": wall, "covered_s": covered, "uncovered_s": wall - covered}

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
