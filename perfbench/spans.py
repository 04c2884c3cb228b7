"""Spans and Spark job accounting for the benchmark.

Jobs are found through the public ``statusTracker()`` by probing
``getJobInfo`` upward from the last id seen.  That sees every job, whatever
job group it runs under (``getJobIdsForGroup(None)`` sees only ungrouped
jobs).  Job ids are attributed to the span that is innermost-open at the
boundary where they are first seen; stage, skipped-stage and task counts
are read once the pass has settled, so a stage still running at a span
boundary is counted in full.

Layer calls are timed by swapping module-level names for span wrappers
(``patched``): the program files stay unchanged, and the real callers pick
the wrappers up through their own globals.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    pass_id: int
    parent: str | None
    start: float
    end: float = 0.0
    job_ids: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class JobLedger:
    """Incremental view of the Spark jobs of one SparkContext."""

    def __init__(self, sc) -> None:
        self._st = sc.statusTracker()
        self._next = 0
        self._executed_stages: set[int] = set()
        self.bookkeeping_s = 0.0
        self.new_jobs()

    def new_jobs(self) -> list[int]:
        """Ids of the jobs registered since the previous call."""
        t0 = time.perf_counter()
        ids: list[int] = []
        while True:
            while self._st.getJobInfo(self._next) is not None:
                ids.append(self._next)
                self._next += 1
            # The status store is fed by an asynchronous listener: a job
            # whose action has just returned can appear a moment later.
            time.sleep(0.002)
            if self._st.getJobInfo(self._next) is None:
                break
        self.bookkeeping_s += time.perf_counter() - t0
        return ids

    def settle(self, ids: list[int], timeout: float = 10.0) -> None:
        """Wait until every job in ``ids`` has finished in the status
        store, so that its stage and task counts are final."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            infos = [self._st.getJobInfo(i) for i in ids]
            if all(j is None or j.status != "RUNNING" for j in infos):
                return
            time.sleep(0.01)

    def job_counts(self, ids: list[int]) -> dict[int, dict[str, int]]:
        """Per job: executed stages, skipped stages and tasks.  Jobs are
        read in id order, so a stage that already ran in an earlier job
        counts as skipped in a later one."""
        out = {}
        for jid in sorted(ids):
            row = {"jobs": 1, "stages": 0, "stages_skipped": 0, "tasks": 0}
            out[jid] = row
            info = self._st.getJobInfo(jid)
            if info is None:
                continue
            for sid in sorted(info.stageIds):
                stage = self._st.getStageInfo(sid)
                if (
                    stage is None
                    or stage.numCompletedTasks == 0
                    or sid in self._executed_stages
                ):
                    row["stages_skipped"] += 1
                    continue
                self._executed_stages.add(sid)
                row["stages"] += 1
                row["tasks"] += stage.numCompletedTasks
        return out


class Tracer:
    """Nested spans with per-span job ids, kept in memory."""

    def __init__(self, ledger: JobLedger, *, enabled: bool) -> None:
        self.ledger = ledger
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_id = 0

    @contextmanager
    def span(self, name: str, *, always: bool = False):
        """A span, or nothing while the tracer is disabled unless
        ``always`` (the root span of a pass, which times it)."""
        if not (self.enabled or always):
            yield None
            return
        self._attribute()
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, self.pass_id, parent, time.perf_counter())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._attribute()
            self._stack.pop()
            self.spans.append(s)

    def _attribute(self) -> None:
        ids = self.ledger.new_jobs()
        if self._stack:
            self._stack[-1].job_ids.extend(ids)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def layer_totals(self, pass_id: int) -> dict[str, dict[str, float]]:
        """Per span name in one pass: wall (summed over calls), self time
        (wall minus direct children), and job/stage/task counts."""
        spans = [s for s in self.spans if s.pass_id == pass_id]
        child_wall: dict[str, float] = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child_wall[s.parent] += s.wall
        ids = [j for s in spans for j in s.job_ids]
        self.ledger.settle(ids)
        per_job = self.ledger.job_counts(ids)
        out: dict[str, dict[str, float]] = {}
        for s in spans:
            row = out.setdefault(
                s.name,
                {"wall_s": 0.0, "jobs": 0, "stages": 0, "stages_skipped": 0, "tasks": 0},
            )
            row["wall_s"] += s.wall
            for jid in s.job_ids:
                for k, v in per_job[jid].items():
                    row[k] += v
        for name, row in out.items():
            row["self_s"] = row["wall_s"] - child_wall.get(name, 0.0)
        return out

    def records(self) -> list[dict]:
        origin = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "name": s.name,
                "pass": s.pass_id,
                "parent": s.parent,
                "start_s": s.start - origin,
                "end_s": s.end - origin,
                "jobs": len(s.job_ids),
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


@contextmanager
def patched(module, mapping: dict[str, str], tracer: Tracer):
    """Swap ``module.<attr>`` for a span wrapper named ``mapping[attr]``
    for the duration of the block."""
    originals = {attr: getattr(module, attr) for attr in mapping}
    try:
        for attr, name in mapping.items():
            setattr(module, attr, tracer.wrap(name, originals[attr]))
        yield
    finally:
        for attr, fn in originals.items():
            setattr(module, attr, fn)
