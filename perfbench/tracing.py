"""Spans around the program's public calls, and the Spark metrics read for
them after the fact.

Each span runs under its own ``setJobGroup``. After the span ends, the
job ids of its group come from ``statusTracker()``, each stage's
metrics from ``statusStore().lastStageAttempt`` and the SQL plan-node
metrics (BroadcastExchange "time to collect", Python UDF "time to run
Python workers") from the SQL status store. All of these readers work
with ``spark.ui.enabled=false``. Spans stay in memory; the caller writes
them out when the run ends.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    sql: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def total(self, key: str) -> float:
        return sum(s[key] for s in self.stages)

    def busy(self) -> float:
        """Seconds of the span during which at least one stage ran."""
        return union_length(
            [(s["start"], s["end"]) for s in self.stages],
            self.start, self.end,
        )

    def driver_gap(self) -> float:
        """Seconds of the span with no stage running: planning, job
        scheduling and driver-side work."""
        return self.wall - self.busy()


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
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


def self_times(prefix_walls: list[float]) -> list[float]:
    """Self time of each layer from the wall times of cumulative prefix
    runs: layer k's self time is prefix k minus prefix k-1."""
    return [
        w - (prefix_walls[i - 1] if i else 0.0)
        for i, w in enumerate(prefix_walls)
    ]


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A SQL metric as Spark formats it ("2.3 s", "5.5 KiB", "1,500", or
    "total (min, med, max ...)\\n1.1 s (...)") -> seconds, bytes or count."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


_METRIC_NODES = re.compile(r"Broadcast|Python|Arrow|Pandas|Scan")
_SQL_METRICS = {
    "time to collect": "broadcast_collect_s",
    "time to run Python workers": "python_s",
    "size of files read": "scan_bytes",
}


def _epoch_s(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


class Tracer:
    """Records spans; ``enabled=False`` makes ``span`` a plain timer with
    no job group, which is how the untraced runs are timed."""

    def __init__(self, spark, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._groups: list[str] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        """Time a block. When tracing, run its jobs under a fresh job group
        (restoring the enclosing span's group afterwards) and keep the
        span, with the enclosing span's group as its parent."""
        sc = self.spark.sparkContext
        sp = Span(name, time.time())
        if self.enabled:
            self._n += 1
            sp.parent = self._groups[-1] if self._groups else None
            sp.group = f"perfbench-{self._n}-{name}"
            self._groups.append(sp.group)
            sc.setJobGroup(sp.group, name, False)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled:
                self._groups.pop()
                if self._groups:
                    sc.setJobGroup(self._groups[-1], self._groups[-1], False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                self.spans.append(sp)

    def last(self, name: str) -> Span:
        """The most recent finished span called ``name``, with metrics."""
        return self.attach([s for s in self.spans if s.name == name][-1])

    def _groups_under(self, sp: Span) -> list[str]:
        """``sp``'s job group and those of all spans nested in it. A span is
        kept when it ends, so descendants precede it in ``spans``."""
        groups = {sp.group}
        for s in reversed(self.spans):
            if s.parent in groups:
                groups.add(s.group)
        return sorted(groups)

    def attach(self, sp: Span) -> Span:
        """Read the Spark metrics of a finished span (outside its timing)."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        sp.jobs = sorted(
            j for g in self._groups_under(sp) for j in tracker.getJobIdsForGroup(g)
        )
        stages = {}
        for j in sp.jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                start, end = _epoch_s(sd.submissionTime()), _epoch_s(sd.completionTime())
                if str(sd.status()) != "COMPLETE" or start is None or end is None:
                    continue  # skipped stage: its work was reused
                stages[sid] = {
                    "stage": sid, "attempt": sd.attemptId(),
                    "tasks": sd.numTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "start": start, "end": end,
                }
        sp.stages = list(stages.values())
        sp.sql = self._sql_metrics(sp)
        return sp

    def _sql_metrics(self, sp: Span) -> dict:
        """Sum selected plan-node metrics (``_SQL_METRICS``) over the SQL
        executions that started inside the span."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out = {key: 0.0 for key in _SQL_METRICS.values()}
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            if not sp.start <= ex.submissionTime() / 1000.0 <= sp.end:
                continue
            values = sql.executionMetrics(ex.executionId())
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                # each py4j call is a round trip: look only at the nodes
                # that carry the metrics read here
                if not _METRIC_NODES.search(node.name()):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    pm = metrics.apply(m)
                    key = _SQL_METRICS.get(pm.name())
                    if key is None:
                        continue
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        return out

    def task_skew(self, sp: Span) -> float:
        """max / median task duration of the span's stage with the most
        executor run time."""
        if not sp.stages:
            return 1.0
        top = max(sp.stages, key=lambda s: s["run_s"])
        store = self.spark.sparkContext._jsc.sc().statusStore()
        tasks = store.taskList(top["stage"], top["attempt"], 1 << 30)
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(d.get())
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 1.0
