"""Outside-in tracing: spans around the engine's public calls, one Spark job
group per span, stage metrics from the driver's status store, and the
engine's ``ENGINE_TIMING`` phase marks summed per label.

Nothing here edits the engine: spans are installed by rebinding the traced
functions in every loaded ``engine.*`` module namespace and undone on exit.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

# (module, function) pairs that get a span; the span is named after the
# function. ``scan`` returns a lazy frame, so engine-internal scan spans time
# only planning; the workload's own reads wrap scan + action in one span.
SPANNED = [
    ("engine.maintain", "run_maintenance"),
    ("engine.merge", "impute_merge"),
    ("engine.merge", "merge_into"),
    ("engine.streaming", "ingest_batch"),
    ("engine.maintain", "compact"),
    ("engine.maintain", "compact_deletes"),
    ("engine.maintain", "rewrite_deletes"),
    ("engine.maintain", "sweep_orphans"),
    ("engine.scan", "scan"),
]
SPAN_NAMES = [f for _, f in SPANNED]
SPAN_STATS = ["wall_s", "self_s", "jobs", "executor_run_s",
              "shuffle_write_bytes", "spill_bytes", "driver_gap_s",
              "task_skew"]
_GROUP_PREFIX = "perfbench-"
_MARK = "ENGINE_TIMING "


class PhaseMarks:
    """Sums every ``ENGINE_TIMING <label> <sec>`` line the engine prints to
    ``sys.stderr`` while installed, with a count per label. Other stderr
    output passes through unchanged."""

    def __init__(self) -> None:
        self.sums: dict[str, float] = {}
        self.counts: dict[str, int] = {}
        self._real = None
        self._buf = ""

    def write(self, s: str) -> int:
        self._buf += s
        *lines, self._buf = self._buf.split("\n")
        for line in lines:
            if line.startswith(_MARK):
                _, label, sec = line.split()
                self.sums[label] = self.sums.get(label, 0.0) + float(sec)
                self.counts[label] = self.counts.get(label, 0) + 1
            else:
                self._real.write(line + "\n")
        return len(s)

    def flush(self) -> None:
        self._real.flush()

    @contextlib.contextmanager
    def installed(self):
        self._real, sys.stderr = sys.stderr, self
        os.environ["ENGINE_TIMING"] = "1"
        try:
            yield self
        finally:
            os.environ.pop("ENGINE_TIMING", None)
            sys.stderr = self._real
            if self._buf:
                self._real.write(self._buf)
                self._buf = ""


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"{_GROUP_PREFIX}{self.sid}"


class Tracer:
    """Records spans while ``enabled``; a disabled tracer's ``span`` is a
    no-op, so workloads call it unconditionally."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.recording = False
        self.spans: dict[int, Span] = {}
        self.marks = PhaseMarks()
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        # a scan inside the workload's own scan span is the same read
        if (not self.recording
                or (self._stack and self._stack[-1].name == name)):
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans) + 1, name,
                  parent.sid if parent else None, time.time())
        self.spans[sp.sid] = sp
        if parent:
            parent.children.append(sp.sid)
        self._stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        try:
            yield
        finally:
            sp.t1 = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     parent.group if parent else None)

    @contextlib.contextmanager
    def window(self):
        """Record spans and phase marks inside this block."""
        if not self.enabled:
            yield
            return
        self.recording = True
        try:
            with self.marks.installed():
                yield
        finally:
            self.recording = False

    @contextlib.contextmanager
    def paused(self):
        """No spans inside this block (the benchmark's own checks)."""
        was, self.recording = self.recording, False
        try:
            yield
        finally:
            self.recording = was

    @contextlib.contextmanager
    def patched(self):
        """Route the SPANNED engine functions through ``span``."""
        if not self.enabled:
            yield
            return
        import importlib
        swaps = []
        for mod, fname in SPANNED:
            orig = getattr(importlib.import_module(mod), fname)
            wrapper = self._spanned(fname, orig)
            for m in [m for k, m in sys.modules.items()
                      if k == "engine" or k.startswith("engine.")]:
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        swaps.append((m, attr, orig))
                        setattr(m, attr, wrapper)
        try:
            yield
        finally:
            for m, attr, orig in swaps:
                setattr(m, attr, orig)

    def _spanned(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return wrapper

    # ------------------------------------------------------------ collection
    def layer_metrics(self, spark) -> dict:
        """Per span name: mean per call of each SPAN_STATS value, with
        stage metrics attributed through the spans' job groups (inclusive
        of child spans). Jobs without a bench group that were submitted
        while a top-level span was open (e.g. from a thread the engine
        starts, which does not inherit the job group) are reported as
        ``unattributed``."""
        jobs, stages = _status_store(spark)
        by_group: dict[str, list[list[dict]]] = {}   # group → stages per job
        unattributed = {"jobs": 0, "executor_run_s": 0.0}
        top = [(int(sp.t0 * 1000), int(sp.t1 * 1000))
               for sp in self.spans.values() if sp.parent is None]
        for j in jobs:
            g = j.get("jobGroup")
            sub = _ms(j.get("submissionTime"))
            js = [stages[s] for s in j.get("stageIds", []) if s in stages]
            if g and g.startswith(_GROUP_PREFIX):
                by_group.setdefault(g, []).append(js)
            elif sub is not None and any(a <= sub <= b for a, b in top):
                unattributed["jobs"] += 1
                unattributed["executor_run_s"] += sum(
                    s["executorRunTime"] for s in js) / 1000.0

        def subtree(sp: Span) -> list[Span]:
            out = [sp]
            for c in sp.children:
                out += subtree(self.spans[c])
            return out

        per_call: dict[str, list[dict]] = {}
        for sp in self.spans.values():
            if not sp.t1:
                continue
            tree = subtree(sp)
            js = [x for s in tree for x in by_group.get(s.group, [])]
            st = {s["stageId"]: s for x in js for s in x
                  if s.get("status") != "SKIPPED"}.values()
            busy = _union([(_ms(s.get("firstTaskLaunchedTime")),
                            _ms(s.get("completionTime"))) for s in st],
                          int(sp.t0 * 1000), int(sp.t1 * 1000))
            wall = sp.t1 - sp.t0
            kids = sum(self.spans[c].t1 - self.spans[c].t0
                       for c in sp.children)
            heavy = max(st, key=lambda s: s["executorRunTime"], default=None)
            per_call.setdefault(sp.name, []).append({
                "wall_s": wall,
                "self_s": wall - kids,
                "jobs": len(js),
                "executor_run_s": sum(s["executorRunTime"] for s in st)
                / 1000.0,
                "shuffle_write_bytes": sum(s["shuffleWriteBytes"]
                                           for s in st),
                "spill_bytes": sum(s["memoryBytesSpilled"]
                                   + s["diskBytesSpilled"] for s in st),
                "driver_gap_s": max(0.0, wall - busy / 1000.0),
                "task_skew": _skew(heavy),
            })
        out = {}
        for name in SPAN_NAMES:
            calls = per_call.get(name, [])
            for stat in SPAN_STATS:
                out[f"{name}.{stat}"] = (
                    statistics.fmean(c[stat] for c in calls) if calls
                    else 0.0)
        out["unattributed.jobs"] = unattributed["jobs"]
        out["unattributed.executor_run_s"] = unattributed["executor_run_s"]
        calls = {n: len(per_call.get(n, [])) for n in SPAN_NAMES}
        return {"metrics": out, "span_calls": calls}


def _ms(v) -> int | None:
    """Status-store dates serialize as epoch millis."""
    return int(v) if isinstance(v, (int, float)) else None


def _union(intervals, lo: int, hi: int) -> int:
    """Total length of the union of [a, b] intervals clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                if a is not None and b is not None)
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _skew(stage: dict | None) -> float:
    """max ÷ median task executor run time of one stage (quantiles 0.5, 1.0
    requested from the status store)."""
    if not stage:
        return 0.0
    q = (stage.get("taskMetricsDistributions") or {}).get("executorRunTime")
    if not q or len(q) < 2 or q[0] <= 0:
        return 1.0 if q else 0.0
    return q[1] / q[0]


def _status_store(spark) -> tuple[list[dict], dict[int, dict]]:
    """Every retained job and stage from the driver's AppStatusStore as
    JSON (works with ``spark.ui.enabled=false``). ``stageList`` gets all
    five arguments: py4j does not apply the Scala defaults."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    statuses = jvm.java.util.ArrayList()
    for name in ("COMPLETE", "FAILED"):
        statuses.add(getattr(jvm.org.apache.spark.status.api.v1.StageStatus,
                             name))
    q = sc._gateway.new_array(jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    stage_seq = store.stageList(statuses, False, True, q,
                                jvm.java.util.ArrayList())
    job_seq = store.jobsList(jvm.java.util.ArrayList())
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    stages = json.loads(mapper.writeValueAsString(stage_seq))
    jobs = json.loads(mapper.writeValueAsString(job_seq))
    return jobs, {s["stageId"]: s for s in stages}
