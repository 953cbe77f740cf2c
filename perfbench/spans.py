"""Spans and Spark job counts for the traced pass.

A span records name, start, end, parent and run id, and tags the Spark
jobs it launches with its own job group, so job, task and failed-task
counts can be read back per span from ``SparkContext.statusTracker()``
(which works with the UI disabled). Spans live in memory; ``dump``
writes them, with their counts, as JSON lines when the run ends.

Job groups are thread-local: jobs that the program launches from its
own worker threads carry no group and are not counted.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JError


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    group: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        #: seconds spent in the tracer itself (tagging, count reads)
        self.own_s = 0.0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, 0.0, parent=parent, run_id=self.run_id,
                 group=f"{self.run_id}/{len(self.spans)}/{name}")
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, s: Span | None) -> None:
        t0 = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", s.group if s else None)
        self.sc.setLocalProperty("spark.job.description", s.name if s else None)
        self.own_s += time.perf_counter() - t0

    def collect_counts(self) -> None:
        """Fill each span's jobs/tasks/failed_tasks from the status
        tracker (after the listener bus has drained)."""
        t0 = time.perf_counter()
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JError:  # a private API; without it, give the bus time
            time.sleep(0.5)
        st = self.sc.statusTracker()
        for s in self.spans:
            jobs = tasks = failed = 0
            for jid in st.getJobIdsForGroup(s.group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numCompletedTasks
                        failed += stage.numFailedTasks
            s.counts.update(jobs=jobs, tasks=tasks, failed_tasks=failed)
        self.own_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
