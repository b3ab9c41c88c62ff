"""Layer spans for the traced run, with Spark engine counters per span.

A span wraps one call into a ``codegraph`` module from the outside. While it
is open, jobs submitted from the calling thread carry the job group
``<layer>#<op>`` (``sc.setJobGroup``); a span may also claim further groups,
for example the run id a streaming query stamps on its micro-batch jobs.
After the timed phase, ``Tracer.counters`` reads Spark's status store
(reachable with the UI off) and attributes stages, tasks, shuffle bytes and
executor run time to spans by job group.

Spans stay in memory; ``Tracer.dump`` writes them out when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

LAYERS = ("extract", "canon", "link", "gitmeta", "pipeline", "materialize",
          "streaming")
COUNTERS = ("busy_s", "plan_s", "stages", "tasks", "tasks_failed",
            "shuffle_bytes", "core_util", "rows_in", "rows_out")


class Span:
    def __init__(self, layer: str, call: str, op: int, parent: int | None,
                 start: float):
        self.layer = layer
        self.call = call
        self.op = op
        self.parent = parent
        self.start = start
        self.end = start
        self.groups = [f"{layer}#{op}"]
        self.rows_in = 0
        self.rows_out = 0

    def as_dict(self) -> dict:
        return {"name": self.layer, "call": self.call, "op": self.op,
                "parent": self.parent,
                "start": self.start, "end": self.end, "groups": self.groups,
                "rows_in": self.rows_in, "rows_out": self.rows_out}


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields None,
    so the untraced run sets no job groups and keeps no records."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str, call: str):
        """Span around one call into ``layer``; ``call`` names the function."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].op if self._stack else None
        sp = Span(layer, call, len(self.spans), parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.groups[0], layer)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].groups[0],
                                    self._stack[-1].layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its child spans cover."""
        kids = sum(c.end - c.start for c in self.spans if c.parent == sp.op)
        return (sp.end - sp.start) - kids

    def counters(self, cores: int) -> dict[str, dict[str, float]]:
        """Per-layer sums over spans, from the status store."""
        jobs, stages = _status_store_snapshot(self.sc)
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j["group"], []).append(j)
        out = {L: dict.fromkeys(COUNTERS, 0.0) for L in LAYERS}
        run_ms = {L: 0.0 for L in LAYERS}
        for sp in self.spans:
            acc = out[sp.layer]
            acc["busy_s"] += self.self_time(sp)
            acc["rows_in"] += sp.rows_in
            acc["rows_out"] += sp.rows_out
            sp_jobs = [j for g in sp.groups for j in by_group.get(g, [])]
            if sp_jobs:
                first = min(j["submitted"] for j in sp_jobs)
                acc["plan_s"] += max(0.0, first - sp.start)
            for sid in {s for j in sp_jobs for s in j["stages"]}:
                st = stages.get(sid)
                if st is None:  # skipped: its output was reused
                    continue
                acc["stages"] += 1
                acc["tasks"] += st["tasks"]
                acc["tasks_failed"] += st["failed"]
                acc["shuffle_bytes"] += st["shuffle_bytes"]
                run_ms[sp.layer] += st["run_ms"]
        for L, acc in out.items():
            if acc["busy_s"] > 0:
                acc["core_util"] = run_ms[L] / 1000.0 / (acc["busy_s"] * cores)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([sp.as_dict() for sp in self.spans], f, indent=1)


def _status_store_snapshot(sc):
    """(jobs, stages): jobs as dicts with group, submission epoch seconds and
    stage ids; stages that ran (skipped ones excluded) keyed by stage id,
    summed over attempts."""
    store = sc._jsc.sc().statusStore()
    jl = store.jobsList(None)
    jobs = []
    for i in range(jl.size()):
        j = jl.apply(i)
        grp = j.jobGroup()
        sub = j.submissionTime()
        sids = j.stageIds()
        jobs.append({
            "group": grp.get() if grp.isDefined() else None,
            "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
            "stages": [sids.apply(k) for k in range(sids.size())],
        })
    jvm = sc._jvm
    sl = store.stageList(None, False, False,
                         sc._gateway.new_array(jvm.double, 0),
                         jvm.java.util.ArrayList())
    stages: dict[int, dict] = {}
    for i in range(sl.size()):
        s = sl.apply(i)
        if s.status().toString() == "SKIPPED":
            continue
        acc = stages.setdefault(s.stageId(), {"tasks": 0, "failed": 0,
                                              "shuffle_bytes": 0, "run_ms": 0})
        acc["tasks"] += s.numTasks()
        acc["failed"] += s.numFailedTasks()
        acc["shuffle_bytes"] += s.shuffleWriteBytes()
        acc["run_ms"] += s.executorRunTime()
    return jobs, stages
