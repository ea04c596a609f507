"""In-memory spans around calls into the engine's layers, with the Spark
work each span caused.

A span records name, start, end, parent and the operation it belongs to.
While it is open, the span's name is the Spark job group, and the SQL
executions started inside it are noted. After the operation, ``collect``
reads Spark's status stores (jobs, stages, SQL plan metrics) for each span,
so stage and task metrics are attributed to the layer that caused them.
Spans stay in memory until ``dump`` writes them out.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_SEP = "\u0001"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float = 0.0
    end: float = 0.0
    spark: dict = field(default_factory=dict)
    _execs: tuple[int, int] = (0, 0)
    _groups: list[str] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def parse_metric(value: str | None) -> dict:
    """Spark's formatted SQL metric → numbers: {'total': x} or, for
    per-task aggregates, {'total', 'min', 'med', 'max', 'stage'}.
    Times become seconds, sizes bytes, counts plain numbers."""
    if not value:
        return {}
    units = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
             "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}

    def num(tok: str) -> float:
        parts = tok.strip().split()
        x = float(parts[0].replace(",", ""))
        return x * units[parts[1]] if len(parts) > 1 else x

    try:
        if "\n" not in value:
            return {"total": num(value)}
        head, body = value.split("\n", 1)
        m = re.match(r"(.+?) \((.+?), (.+?), (.+?) \(stage (\d+)\.\d+: task \d+\)\)", body)
        if not head.startswith("total") or not m:
            return {}
        total, lo, med, hi = (num(g) for g in m.groups()[:4])
    except (ValueError, KeyError, IndexError):  # a format this parser does not read
        return {}
    return {"total": total, "min": lo, "med": med, "max": hi, "stage": int(m.group(5))}


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = -1

    def bind(self, spark) -> None:
        """Point at a (new) session's status stores."""
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def new_op(self) -> int:
        self.op += 1
        return self.op

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.op)
        self.spans.append(s)
        self._stack.append(s)
        group = f"{name}#{s.id}"
        s._groups.append(group)
        for p in self._stack[:-1]:
            p._groups.append(group)
        self._drain()
        first = self._sql.executionsCount()
        self.sc.setJobGroup(group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{parent.name}#{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._drain()
            s._execs = (int(first), int(self._sql.executionsCount()))

    # -- Spark status store -------------------------------------------------

    def collect(self, spans: list[Span], plan_spans: set[str] = frozenset()) -> None:
        """Fill ``span.spark`` for each span: jobs, stages, tasks, failed
        tasks, executor run time, shuffle bytes/records; and, for spans
        named in ``plan_spans``, the SQL plan node metrics."""
        self._drain()
        tracker = self.sc.statusTracker()
        for s in spans:
            lo, hi = s._execs
            execs = self._sql.executionsList(lo, hi - lo) if hi > lo else None
            exec_ids, jobs = [], set()
            for i in range(execs.size() if execs is not None else 0):
                e = execs.apply(i)
                exec_ids.append(e.executionId())
                keys = e.jobs().keys().mkString(_SEP)
                jobs.update(int(k) for k in keys.split(_SEP) if k)
            for g in s._groups:
                jobs.update(tracker.getJobIdsForGroup(g))
            stats = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
                     "run_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_records": {}}
            seen = set()
            for j in sorted(jobs):
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = self._store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    stats["stages"] += 1
                    stats["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    stats["failed_tasks"] += sd.numFailedTasks()
                    stats["run_s"] += sd.executorRunTime() / 1000.0
                    stats["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    stats["shuffle_read_records"][sid] = sd.shuffleReadRecords()
            s.spark = stats
            if s.name in plan_spans:
                s.spark["plan"] = [n for eid in exec_ids for n in self._plan_nodes(eid)]

    def _plan_nodes(self, exec_id: int) -> list[tuple[str, dict]]:
        """[(node name, {metric name: parsed value})] of one SQL execution,
        for nodes that reported metrics."""
        raw = self._sql.executionMetrics(exec_id).mkString(_SEP)
        values = {}
        for entry in raw.split(_SEP):
            if " -> " in entry:
                k, v = entry.split(" -> ", 1)
                values[int(k)] = v
        out = []
        nodes = self._sql.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            metrics = {}
            for m in re.finditer(r"SQLPlanMetric\((.*?),(\d+),[^)]*\)",
                                 node.metrics().mkString(_SEP)):
                parsed = parse_metric(values.get(int(m.group(2))))
                if parsed:
                    metrics[m.group(1)] = parsed
            if metrics:
                out.append((node.name(), metrics))
        return out

    # -- output --------------------------------------------------------------

    def self_time(self, s: Span) -> float:
        return s.duration - sum(c.duration for c in self.spans if c.parent == s.id)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec.pop("_execs")
                rec.pop("_groups")
                rec["self_s"] = self.self_time(s)
                rec["spark"] = {k: v for k, v in s.spark.items()
                                if k not in ("plan", "shuffle_read_records")}
                f.write(json.dumps(rec) + "\n")
