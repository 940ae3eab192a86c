"""Spans around calls into the program's layers, with Spark job metrics.

A span records its name, start, end, parent and the op it belongs to, and
sets a Spark job group for its duration, so every job the span's own code
starts is attributed to it. After the op, `attach_spark_metrics` reads the
jobs of each group from Spark's status store (works in local mode with the
UI off). Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children's intervals are merged first, so overlaps count once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, edge = 0.0, s.start
        for c in sorted(kids.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, edge, s.start), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        out.append(s.dur - covered)
    return out


class Tracer:
    """Span recorder for one traced op; `sc` may be None in unit tests."""

    def __init__(self, sc, op: int):
        self.sc = sc
        self.op = op
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # time spent recording spans and switching job groups: the cost
        # tracing adds to the traced op's wall time
        self.overhead_s = 0.0

    def current(self) -> Span | None:
        return self.spans[self._stack[-1]] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        entered = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, parent, 0.0, group=f"perfbench-{self.op}-{idx}",
                 attrs=attrs)
        self.spans.append(s)
        self._stack.append(idx)
        self._set_group(s.group)
        s.start = time.perf_counter()
        self.overhead_s += s.start - entered
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[parent].group if parent is not None else None)
            self.overhead_s += time.perf_counter() - s.end

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    def to_records(self) -> list[dict]:
        return [
            {"name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, **s.attrs}
            for s in self.spans
        ]


def attach_spark_metrics(sc, spans: list[Span]) -> None:
    """span.attrs["spark"] = the jobs the span's own group ran, with their
    stages' executor run/CPU time, shuffle write, spill, and the task-time
    skew (max / median) of the span's heaviest stage."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, tracker, gw = jsc.statusStore(), sc.statusTracker(), sc._gateway
    for s in spans:
        m = {"jobs": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_b": 0,
             "spill_b": 0, "skew": 1.0}
        heaviest = None
        for job in tracker.getJobIdsForGroup(s.group):
            m["jobs"] += 1
            ids = store.job(job).stageIds()
            for k in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(k))
                run_ms = st.executorRunTime()
                m["run_s"] += run_ms / 1e3
                m["cpu_s"] += st.executorCpuTime() / 1e9
                m["shuffle_write_b"] += st.shuffleWriteBytes()
                m["spill_b"] += st.diskBytesSpilled()
                if heaviest is None or run_ms > heaviest[0]:
                    heaviest = (run_ms, st.stageId(), st.attemptId())
        if heaviest is not None and heaviest[0] > 0:
            q = gw.new_array(gw.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            dist = store.taskSummary(heaviest[1], heaviest[2], q)
            if dist.isDefined():
                rt = dist.get().executorRunTime()
                med, top = rt.apply(0), rt.apply(1)
                m["skew"] = top / med if med > 0 else 1.0
        s.attrs["spark"] = m


def spark_total(spans: list[Span], key: str) -> float:
    return sum(s.attrs["spark"][key] for s in spans)


@contextlib.contextmanager
def pipeline_spans(tracer: Tracer):
    """Wrap `StageRunner.run_stage` in a `stage.<name>` span, the stage's
    produce callable in a `produce` span, and the stage output's parquet
    write in a `write` span. What is left of a stage span is StageRunner's
    bookkeeping: resume check, count re-read, metrics job, lineage append."""
    from pyspark.sql.readwriter import DataFrameWriter

    from gliner_spark.plans.lineage import StageRunner

    run_stage, parquet = StageRunner.run_stage, DataFrameWriter.parquet

    def traced_run_stage(self, stage, fp, produce, *args, **kwargs):
        def traced_produce():
            with tracer.span("produce", stage=stage):
                return produce()

        with tracer.span(f"stage.{stage}", stage=stage):
            return run_stage(self, stage, fp, traced_produce, *args, **kwargs)

    def traced_parquet(self, path, *args, **kwargs):
        cur = tracer.current()
        if (cur is not None and cur.name.startswith("stage.")
                and os.path.basename(str(path).rstrip("/")) == cur.attrs["stage"]):
            with tracer.span("write", stage=cur.attrs["stage"]):
                return parquet(self, path, *args, **kwargs)
        return parquet(self, path, *args, **kwargs)

    StageRunner.run_stage = traced_run_stage
    DataFrameWriter.parquet = traced_parquet
    try:
        yield
    finally:
        StageRunner.run_stage, DataFrameWriter.parquet = run_stage, parquet
