"""Spans, self time and Spark status-store attribution for traced runs.

A span is recorded around each call the benchmark makes into a layer's
public functions.  While a span is open its id is the Spark job group,
so after the run every job (and through it every stage) in Spark's
status store can be attributed to the innermost span that caused it.
Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JError


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    #: "build": the layer call that constructs a result (jobs run here are
    #: construction-time jobs); "run": the final action; "group": a span
    #: that only holds other spans.
    kind: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``enabled=False`` every method is a no-op, so
    the untraced run pays nothing but one context-manager entry per call."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext if (enabled and spark is not None) else None

    @contextmanager
    def span(self, name: str, kind: str = "run"):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.id if parent else None, name, kind, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"span-{sp.id}", sp.name)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f, indent=1)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = s.duration - _union_length(clipped)
    return out


def covered(spans: list[Span], start: float, end: float) -> float:
    """Seconds of [start, end] covered by at least one of ``spans``."""
    return _union_length(
        [(max(s.start, start), min(s.end, end)) for s in spans if s.end > start and s.start < end]
    )


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"^([0-9][0-9.,]*) (B|KiB|MiB|GiB|TiB)")
_PY_SENT = "data sent to Python workers"


def _size_bytes(formatted: str) -> float:
    """Total of a formatted SQL size metric.  A metric updated by one task
    reads ``"1.2 MiB"``; by several, ``"total (min, med, max ...)\\n1.2 MiB
    (...)"``: the total is the first value after the header line."""
    line = formatted.splitlines()[-1] if "\n" in formatted else formatted
    m = _SIZE_RE.match(line.strip())
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


class StatusStore:
    """Reads jobs, stages and SQL executions from the live status store
    (works with ``spark.ui.enabled=false``).  Lists are serialized to JSON
    inside the JVM with Spark's own Jackson, one Py4J call per list."""

    def __init__(self, spark):
        self._spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_mod.__getattr__("MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        # Py4J cannot fill Scala default arguments: all five are passed.
        return self._json(
            self._store.stageList(None, False, False, self._no_quantiles, self._empty)
        )

    def python_bytes_by_job(self) -> dict[int, float] | None:
        """Job id -> bytes sent to Python workers, from the SQL status store;
        ``None`` if this Spark does not expose it.  An execution's total is
        credited to the lowest job id it ran."""
        try:
            sql = self._spark._jsparkSession.sharedState().statusStore()
            execs = sql.executionsList()
            out: dict[int, float] = {}
            for i in range(execs.size()):
                ex = execs.apply(i)
                ids = {m["accumulatorId"] for m in self._json(ex.metrics()) if m["name"] == _PY_SENT}
                jobs = [int(j) for j in self._json(ex.jobs())]
                if not ids or not jobs:
                    continue
                vals = sql.executionMetrics(ex.executionId())
                total = 0.0
                for acc in ids:
                    v = vals.get(acc)
                    if v.isDefined():
                        total += _size_bytes(v.get())
                out[min(jobs)] = out.get(min(jobs), 0.0) + total
            return out
        except Py4JError:  # not exposed by this Spark build
            return None


def attribute(spans: list[Span], store: StatusStore, slots: int) -> dict:
    """Spark totals per span: ``own`` holds those of the jobs run while the
    span was the innermost open one, ``subtree`` adds its descendants' and
    the idle slot time.  Each stage that ran is counted once, under the
    first job that lists it (a later job sharing it skipped it)."""
    jobs = store.jobs()
    stages: dict[int, list[dict]] = {}
    for st in store.stages():
        if st["status"] in ("COMPLETE", "FAILED"):
            stages.setdefault(st["stageId"], []).append(st)
    py_bytes = store.python_bytes_by_job()
    by_span: dict[int, dict] = {s.id: zero_totals() for s in spans}
    seen: set[int] = set()
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        group = job.get("jobGroup") or ""
        if not group.startswith("span-"):
            continue
        sid = int(group[5:])
        if sid not in by_span:
            continue
        acc = by_span[sid]
        acc["jobs"] += 1
        if py_bytes is not None:
            acc["python_bytes"] += py_bytes.get(job["jobId"], 0.0)
        for stage_id in job["stageIds"]:
            if stage_id in seen or stage_id not in stages:
                continue
            seen.add(stage_id)
            for st in stages[stage_id]:
                acc["tasks"] += st["numTasks"]
                acc["tasks_failed"] += st["numFailedTasks"]
                acc["run_s"] += st["executorRunTime"] / 1e3
                acc["cpu_s"] += st["executorCpuTime"] / 1e9
                acc["gc_s"] += st["jvmGcTime"] / 1e3
                acc["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                acc["spill_bytes"] += st["diskBytesSpilled"]
    subtree = _subtree_totals(spans, by_span)
    for s in spans:
        subtree[s.id]["idle_slot_s"] = s.duration * slots - subtree[s.id]["run_s"]
    return {"own": by_span, "subtree": subtree, "python_exposed": py_bytes is not None}


def zero_totals() -> dict:
    return dict(
        jobs=0, tasks=0, tasks_failed=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
        shuffle_write_bytes=0.0, spill_bytes=0.0, python_bytes=0.0,
    )


def _subtree_totals(spans: list[Span], own: dict[int, dict]) -> dict[int, dict]:
    out = {s.id: dict(own[s.id]) for s in spans}
    for s in sorted(spans, key=lambda x: -x.id):  # children have larger ids
        if s.parent is not None:
            for k, v in out[s.id].items():
                out[s.parent][k] += v
    return out
