"""Spans and Spark counters for the traced (``--trace 1``) run.

A span is one timed call into a layer's public functions: name, start, end
and the op span that caused it. Each span runs under its own Spark job group;
when it ends, the tracer reads that group's jobs and stages from the driver's
status store (the same store the Spark UI reads, populated whether or not the
UI is enabled). Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JError

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "input_records",
    "output_bytes",
    "shuffle_write_bytes",
    "shuffle_records",
    "spill_bytes",
    "map_run_s",
    "reduce_run_s",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, parent: int | None = None, spark_counters: bool = True):
        s = Span(len(self.spans), name, parent, time.perf_counter() - self.t0)
        self.spans.append(s)
        group = f"perfbench-{s.id}"
        if spark_counters:
            self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self.t0
            if spark_counters:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                s.counters = self.counters(group)

    def counters(self, group: str) -> dict:
        """Sum the status-store metrics of every stage the group's jobs ran.
        Waits (briefly) until the listener has recorded every job's end, which
        the status store receives after the job's task and stage events."""
        jobs = list(self.status.getJobIdsForGroup(group))
        deadline = time.monotonic() + 5.0
        while True:
            infos = [self.status.getJobInfo(j) for j in jobs]
            done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.005)
        c = dict.fromkeys(COUNTERS, 0)
        c["jobs"] = len(jobs)
        for sid in sorted({s for i in infos if i is not None for s in i.stageIds}):
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JError:  # a stage that was planned but never attempted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            run_s = st.executorRunTime() / 1e3
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["executor_run_s"] += run_s
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["input_bytes"] += st.inputBytes()
            c["input_records"] += st.inputRecords()
            c["output_bytes"] += st.outputBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["shuffle_records"] += st.shuffleWriteRecords()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            # map side: stages that read no shuffle (scan + partial aggregate);
            # reduce side: stages that read one (final aggregate and after)
            if st.shuffleReadBytes() == 0 and st.shuffleReadRecords() == 0:
                c["map_run_s"] += run_s
            else:
                c["reduce_run_s"] += run_s
        return c

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
