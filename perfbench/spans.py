"""Tracing for the benchmark's traced runs: spans recorded around the
calls the harness makes into each layer, plus the Spark statistics of
each op read back from Spark's status stores.

Spans stay in memory and are written out once, at the end of the run,
with their self times (a span's duration minus the part of it that its
child spans cover). Nothing here reaches inside the program: spans open
and close in harness code only.

Every Spark job the harness causes runs under a job group
``pb:<op seq>:<phase>:<name>`` set by ``JobGroups``, in traced and
untraced runs alike, so each job is attributable to an op.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

GROUP_PREFIX = "pb:"
_TIMING = re.compile(r"([\d.,]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
# the metric every Python-UDF node (ArrowEvalPython, MapInPandas, ...)
# carries, and the row count published by the same node
_UDF_TIME = "time to run Python workers"
_ROWS = "number of output rows"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    op: int | None = None


@dataclass
class OpStats:
    """Spark work attributed to one op, summed over its job groups."""

    jobs: int = 0
    build_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    driver_gap_s: float = 0.0
    udf_rows: int = 0
    udf_s: float = 0.0


class JobGroups:
    """Sets one Spark job group per (op, phase) and remembers them."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self.by_op: dict[int, list[str]] = {}

    def set(self, op: int, phase: str, name: str) -> str:
        group = f"{GROUP_PREFIX}{op}:{phase}:{name}"
        self._sc.setJobGroup(group, f"{phase} {name}")
        self.by_op.setdefault(op, []).append(group)
        return group


@dataclass
class Recorder:
    """Span tree plus per-op Spark statistics; a no-op when disabled."""

    spark: object
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    op_stats: dict[int, OpStats] = field(default_factory=dict)
    counters: dict[tuple[int, str], float] = field(default_factory=dict)
    pending: list[tuple[int, list[str], tuple[float, float]]] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _seen_stages: set[int] = field(default_factory=set)
    _sql_offset: int = 0

    @contextmanager
    def span(self, name: str, op: int | None = None) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        parent = self.spans[self._stack[-1]] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), parent.id if parent else None, name, time.time(), op=op)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to counter ``name`` of the op of the open span."""
        if self.enabled and self._stack:
            key = (self.spans[self._stack[-1]].op, name)
            self.counters[key] = self.counters.get(key, 0.0) + value

    # -- Spark status stores ------------------------------------------------

    def flush(self) -> None:
        """Read the Spark statistics of every op noted in ``pending``.
        Called between passes, so the reads stay out of pass times."""
        if not self.pending:
            return
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        execs = self._new_executions()
        for op, groups, wall in self.pending:
            self.op_stats[op] = self._read_op(groups, wall, execs)
        self.pending.clear()

    def _new_executions(self) -> list[tuple[set[int], int]]:
        """(job ids, execution id) of the SQL executions added since the
        last call."""
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        sql = self.spark._jsparkSession.sharedState().statusStore()
        count = sql.executionsCount()
        if count <= self._sql_offset:
            return []
        execs = conv.asJava(sql.executionsList(self._sql_offset, count - self._sql_offset))
        self._sql_offset = count
        return [({int(j) for j in conv.asJava(e.jobs()).keySet()}, e.executionId())
                for e in execs]

    def _read_op(self, groups: list[str], wall: tuple[float, float],
                 execs: list[tuple[set[int], int]]) -> OpStats:
        """The jobs, stages and SQL executions of one op's job groups,
        from Spark's status stores."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        st = OpStats()
        job_ids: set[int] = set()
        intervals: list[tuple[float, float]] = []
        for group in groups:
            ids = list(sc.statusTracker().getJobIdsForGroup(group))
            job_ids.update(ids)
            st.jobs += len(ids)
            if group.split(":")[2] == "builder":
                st.build_jobs += len(ids)
            for jid in ids:
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
                sids = job.stageIds()
                for i in range(sids.size()):
                    self._add_stage(store, int(sids.apply(i)), st)
        st.driver_gap_s = max(wall[1] - wall[0] - _covered(intervals, wall), 0.0)
        for jobs, exec_id in execs:
            if jobs & job_ids:
                self._add_udf_metrics(exec_id, st)
        return st

    def _add_stage(self, store, sid: int, st: OpStats) -> None:
        # a stage reused by a later job shows up in that job's stage list
        # too; count each stage once, and only if it ran
        if sid in self._seen_stages:
            return
        self._seen_stages.add(sid)
        stage = store.lastStageAttempt(sid)
        if stage.status().toString() == "SKIPPED":
            return
        st.stages += 1
        st.tasks += stage.numTasks()
        st.executor_run_s += stage.executorRunTime() / 1e3
        st.executor_cpu_s += stage.executorCpuTime() / 1e9
        st.gc_s += stage.jvmGcTime() / 1e3
        st.shuffle_read_mb += stage.shuffleReadBytes() / 2**20
        st.shuffle_write_mb += stage.shuffleWriteBytes() / 2**20
        st.spill_mb += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / 2**20

    def _add_udf_metrics(self, exec_id: int, st: OpStats) -> None:
        """Python-UDF rows and worker time from one SQL execution's plan
        metrics (nodes that carry the Python-worker timer)."""
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        sql = self.spark._jsparkSession.sharedState().statusStore()
        values = conv.asJava(sql.executionMetrics(exec_id))
        for node in conv.asJava(sql.planGraph(exec_id).allNodes()):
            metrics = {m.name(): m.accumulatorId() for m in conv.asJava(node.metrics())}
            if _UDF_TIME not in metrics:
                continue
            st.udf_s += parse_timing(values.get(metrics[_UDF_TIME]))
            rows = values.get(metrics.get(_ROWS))
            if rows:
                st.udf_rows += int(rows.replace(",", ""))

    def unattributed_jobs(self) -> int:
        """Jobs in the status store whose group the harness did not set."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        return sum(
            1 for j in conv.asJava(jsc.statusStore().jobsList(None))
            if not (j.jobGroup().isDefined() and j.jobGroup().get().startswith(GROUP_PREFIX))
        )

    # -- output ---------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        return {
            s.id: s.end - s.start - _covered(
                [(c.start, c.end) for c in children.get(s.id, [])], (s.start, s.end)
            )
            for s in self.spans
        }

    def write(self, path: str, extra: dict) -> None:
        selft = self.self_times()
        t0 = self.spans[0].start if self.spans else 0.0
        doc = dict(extra)
        doc["spans"] = [
            {"id": s.id, "parent": s.parent, "name": s.name, "op": s.op,
             "start_s": round(s.start - t0, 6), "dur_s": round(s.end - s.start, 6),
             "self_s": round(selft[s.id], 6)}
            for s in self.spans
        ]
        doc["ops"] = {str(k): vars(v) for k, v in self.op_stats.items()}
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def parse_timing(rendered: str | None) -> float:
    """Seconds from a rendered SQL timing metric: either ``'5.6 s'`` or
    ``'total (min, med, max ...)\\n5.6 s (...)'``."""
    if not rendered:
        return 0.0
    m = _TIMING.search(rendered.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def _covered(intervals: list[tuple[float, float]], window: tuple[float, float]) -> float:
    """Length of the union of ``intervals`` clipped to ``window``."""
    lo, hi = window
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
