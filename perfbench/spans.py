"""Span tracer for the traced benchmark run.

Spans are recorded from the benchmark's side only: ``Tracer.wrap``
replaces a module attribute with a timing wrapper, and the CLI looks its
pipeline functions up at call time, so the program itself is unchanged.
Every span tags the Spark jobs it starts with its own job group; after
the run, ``statusTracker`` gives each span's jobs, stages and tasks.
Spans stay in memory until ``dump`` writes them out at the end.
"""

from __future__ import annotations

import importlib
import json
import time
from contextlib import contextmanager

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.frames: list = []  # DataFrames handed to writers, planned after the run
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ recording
    def _open(self, name: str) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        self.sc.setJobGroup(span["group"], name)
        return span

    def _close(self) -> None:
        self._stack.pop()
        parent = self.spans[self._stack[-1]]["group"] if self._stack else None
        self.sc.setLocalProperty(_JOB_GROUP, parent)

    @contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        s = self._open(name)
        s["start"] = time.perf_counter()
        self.bookkeeping_s += s["start"] - b0
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._close()
            self.bookkeeping_s += time.perf_counter() - s["end"]

    def wrap(self, module_name: str, attr: str, name: str, on_result=None) -> None:
        """Time every call of ``module.attr`` as a span called ``name``.
        ``on_result(span, args, kwargs, result)`` records counts on the span."""
        module = importlib.import_module(module_name)
        fn = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                result = fn(*args, **kwargs)
            if on_result is not None:
                b0 = time.perf_counter()
                on_result(s, args, kwargs, result)
                tracer.bookkeeping_s += time.perf_counter() - b0
            return result

        self._patches.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()

    # ---------------------------------------------------------- after the run
    def collect_jobs(self) -> None:
        """Attach each span's own Spark jobs, stages and tasks (not its
        children's). Skipped stages (shuffle reuse) ran no task and are
        not counted."""
        st = self.sc.statusTracker()
        for s in self.spans:
            jobs = stages = tasks = failed = 0
            for job_id in st.getJobIdsForGroup(s["group"]):
                info = st.getJobInfo(job_id)
                if info is None:
                    continue
                jobs += 1
                for stage_id in info.stageIds:
                    si = st.getStageInfo(stage_id)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
            s.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)

    def plan_phases(self) -> dict[str, float]:
        """Catalyst analysis / optimization / planning seconds summed over
        the DataFrames handed to writers. A writer plans its input inside
        its own command, so each input is planned once more here, after
        the timed region, to read the phase times."""
        totals = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for df in self.frames:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for phase in totals:
                opt = phases.get(phase)
                if opt.isDefined():
                    totals[phase] += opt.get().durationMs() / 1000.0
        return totals

    # ------------------------------------------------------------- summaries
    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s["id"]))
        return out

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it its direct children cover
        (children run sequentially inside their parent)."""
        covered = sum(c["end"] - c["start"] for c in self.children(span["id"]))
        return (span["end"] - span["start"]) - covered

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def inclusive(self, name: str, field: str) -> int:
        """A job/stage/task count of the spans called ``name``, including
        everything their child spans started."""
        return sum(sum(x[field] for x in self.subtree(s)) for s in self.named(name))

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            row = {k: v for k, v in s.items() if k != "group"}
            row["self_s"] = self.self_time(s)
            rows.append(row)
        with open(path, "w") as f:
            json.dump(rows, f, indent=1, default=str)
