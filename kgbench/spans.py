"""In-memory spans for the traced run.

Each span tags the Spark jobs it starts with its own job group
(``SparkContext.setJobGroup``), so once the traced job has finished the
jobs, stages and tasks of every span can be read back from
``SparkContext.statusTracker()``.  Spans are kept in memory and only
summarised at the end; nothing here runs inside the program under test.

A span belongs to a layer (``extract``, ``linking``, ...).  Work that only
the benchmark does (row counts for the ratios) runs in ``bookkeeping``
spans, which are excluded from the layers and from the coverage base.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

BOOKKEEPING = "bookkeeping"


@dataclass
class Span:
    layer: str
    name: str
    group: str
    start: float
    seconds: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


@dataclass
class Tracer:
    spark: object
    spans: list = field(default_factory=list)

    @contextmanager
    def span(self, layer: str, name: str):
        group = f"kgbench-{len(self.spans)}-{layer}-{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, f"{layer}.{name}")
        s = Span(layer, name, group, time.perf_counter())
        self.spans.append(s)
        try:
            yield s
        finally:
            s.seconds = time.perf_counter() - s.start
            sc.setJobGroup("kgbench-untraced", "outside any span")

    def bookkeeping(self, name: str):
        return self.span(BOOKKEEPING, name)

    def collect_spark_stats(self, timeout_s: float = 10.0) -> None:
        """Fill jobs/stages/tasks per span from the status tracker.  The
        tracker is fed by an asynchronous listener, so wait (bounded)
        until every job of every span reports a final status."""
        st = self.spark.sparkContext.statusTracker()
        deadline = time.monotonic() + timeout_s
        for s in self.spans:
            while True:
                infos = [st.getJobInfo(j)
                         for j in st.getJobIdsForGroup(s.group)]
                if (all(i is not None and i.status in ("SUCCEEDED", "FAILED")
                        for i in infos) or time.monotonic() > deadline):
                    break
                time.sleep(0.05)
            s.jobs = len(infos)
            s.stages = s.tasks = s.failed_tasks = 0
            for info in infos:
                for sid in (info.stageIds if info else []):
                    stage = st.getStageInfo(sid)
                    # stages whose shuffle output was reused are listed
                    # by their job but never run: count only those that did
                    if stage is None or not (stage.numCompletedTasks
                                             or stage.numFailedTasks):
                        continue
                    s.stages += 1
                    s.tasks += stage.numCompletedTasks
                    s.failed_tasks += stage.numFailedTasks

    def layer_seconds(self, layer: str, name: str | None = None) -> float:
        return sum(s.seconds for s in self.spans
                   if s.layer == layer and name in (None, s.name))

    def layer_counts(self, layer: str, name: str | None = None) -> dict:
        sel = [s for s in self.spans
               if s.layer == layer and name in (None, s.name)]
        return {k: sum(getattr(s, k) for s in sel)
                for k in ("jobs", "stages", "tasks", "failed_tasks")}

    def coverage(self, wall_s: float) -> float:
        """Share of the traced wall (bookkeeping excluded) that falls in
        some layer span."""
        book = self.layer_seconds(BOOKKEEPING)
        layers = sum(s.seconds for s in self.spans if s.layer != BOOKKEEPING)
        return layers / max(wall_s - book, 1e-9)

    def table(self) -> list[str]:
        return [f"  {s.layer:13s} {s.name:18s} {s.seconds:8.3f} s  "
                f"jobs={s.jobs} stages={s.stages} tasks={s.tasks} "
                f"failed_tasks={s.failed_tasks}" for s in self.spans]
