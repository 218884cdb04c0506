"""Outside-in layer tracing for the benchmark's traced run (``--trace 1``).

Nothing here edits the engine. The tracer

- wraps layer entry points by rebinding the module attributes that name
  them (every module of the package that imported the same function
  object), so each call opens a span;
- tags every span with its own Spark job group and, when the span closes,
  counts the group's jobs and stages through ``statusTracker``;
- reads Catalyst phase times from the ``QueryExecution`` of a DataFrame the
  workload holds;
- keeps spans in memory and writes them out once, at the end;
- after the session stops, folds the event log (switched on from the
  command line, see ``run.py``) into per-operation executor, shuffle, GC
  and Python-UDF totals.

``NullTracer`` has the same surface and does nothing, so traced and
untraced runs execute the same workload code.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: list[int] = field(default_factory=list)
    stages: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's wall minus the walls of its direct children."""
    out = {s.sid: s.wall for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in out:
            out[s.parent] -= s.wall
    return out


def own_jobs(spans: list[Span]) -> dict[int, list[int]]:
    """Jobs launched by a span itself, not by its children: a group's job
    list holds only jobs submitted while that group was set, and a child
    span sets its own group, so the lists are already disjoint. Sorted and
    de-duplicated for stable counts."""
    return {s.sid: sorted(set(s.jobs)) for s in spans}


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, layer: str = "workload"):
        yield None

    def begin_op(self, op: int) -> None:
        pass

    def end_op(self) -> None:
        pass

    def catalyst(self, df, execute: bool = False) -> None:
        pass

    def wrap(self, module, names, layer: str) -> None:
        pass

    def unwrap_all(self) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self, spark, clock=time.perf_counter):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.clock = clock
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None
        self.catalyst_ms: dict[int, dict[str, float]] = {}
        self.overhead_s: dict[int, float] = {}
        self._patched: list[tuple[object, str, object]] = []

    # ── operations ──────────────────────────────────────────────────────
    def begin_op(self, op: int) -> None:
        self.op = op

    def end_op(self) -> None:
        self.op = None

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextlib.contextmanager
    def span(self, name: str, layer: str = "workload"):
        t0 = self.clock()
        parent = self.stack[-1] if self.stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            layer=layer,
            op=self.op,
            parent=parent.sid if parent else None,
            start=0.0,
        )
        s.group = f"pb{self.op}:{s.sid}"
        self.spans.append(s)
        self.stack.append(s)
        self._set_group(s.group)
        self._charge(t0)
        s.start = self.clock()
        try:
            yield s
        finally:
            s.end = self.clock()
            t1 = s.end
            self.stack.pop()
            self._set_group(parent.group if parent else None)
            s.jobs = list(self.status.getJobIdsForGroup(s.group))
            s.stages = 0
            for j in s.jobs:
                info = self.status.getJobInfo(j)
                if info is not None:
                    s.stages += len(info.stageIds)
            self._charge(t1)

    def _charge(self, t0: float) -> None:
        if self.op is not None:
            self.overhead_s[self.op] = self.overhead_s.get(self.op, 0.0) + self.clock() - t0

    def catalyst(self, df, execute: bool = False) -> None:
        """Record the Catalyst phase times of ``df``'s QueryExecution for the
        current operation. ``execute=True`` first forces optimisation and
        physical planning on it (for DataFrames that are consumed through a
        writer, which plans its own copy)."""
        t0 = self.clock()
        qe = df._jdf.queryExecution()
        if execute:
            qe.executedPlan()
        phases = qe.tracker().phases()
        acc = self.catalyst_ms.setdefault(self.op, {})
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                acc[ph] = acc.get(ph, 0.0) + float(opt.get().durationMs())
        self._charge(t0)

    # ── entry-point wrapping ────────────────────────────────────────────
    def wrap(self, module, names, layer: str) -> None:
        """Open a span around every call of ``module.<name>``, wherever the
        package bound that function (``from x import f`` copies the
        reference into the importing module)."""
        pkg = module.__name__.split(".")[0]
        for name in names:
            fn = getattr(module, name)
            wrapped = self._wrapper(fn, f"{module.__name__.split('.')[-1]}.{name}", layer)
            for mod in list(sys.modules.values()):
                if mod is None or not getattr(mod, "__name__", "").startswith(pkg):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self._patched.append((mod, attr, val))
                        setattr(mod, attr, wrapped)

    def _wrapper(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        return inner

    def unwrap_all(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    # ── export ──────────────────────────────────────────────────────────
    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        rows = [dict(asdict(s), self_s=st[s.sid]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": rows, "catalyst_ms": self.catalyst_ms}, f)


# ── event log ──────────────────────────────────────────────────────────────

_PY_NODE = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def _walk_plan(node: dict, found: dict[int, tuple[str, str]]) -> None:
    if any(k in node.get("nodeName", "") for k in _PY_NODE):
        for m in node.get("metrics", []):
            found[m["accumulatorId"]] = (m["name"], m.get("metricType", ""))
    for child in node.get("children", []):
        _walk_plan(child, found)


def parse_event_log(log_dir: str) -> dict:
    """Per-job-group totals from a Spark event log directory:
    ``{group: {jobs, stages, tasks, run_s, cpu_s, gc_s, bytes_read,
    bytes_written, shuffle_write, spill, udf_rows, udf_s,
    job_spans: [(start_ms, end_ms)]}}``."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    py_acc: dict[int, tuple[str, str]] = {}
    out: dict[str, dict] = {}

    def g(name: str) -> dict:
        return out.setdefault(
            name,
            dict(jobs=0, stages=0, tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                 bytes_read=0, bytes_written=0, shuffle_write=0, spill=0,
                 udf_rows=0, udf_s=0.0,
                 job_spans=[]),
        )

    events = []
    for p in files:
        with open(p) as f:
            events.extend(json.loads(line) for line in f)
    # a cached frame's plan (and so its Python node's metric ids) can first
    # appear in a plan event logged after the tasks that filled the cache
    for e in events:
        if "sparkPlanInfo" in e:
            _walk_plan(e["sparkPlanInfo"], py_acc)
    for e in events:
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            grp = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jid = e["Job ID"]
            job_group[jid] = grp
            job_start[jid] = e.get("Submission Time", 0)
            rec = g(grp)
            rec["jobs"] += 1
            rec["stages"] += len(e.get("Stage IDs", []))
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = grp
        elif ev == "SparkListenerJobEnd":
            jid = e["Job ID"]
            grp = job_group.get(jid, "")
            g(grp)["job_spans"].append((job_start.get(jid, 0), e.get("Completion Time", 0)))
        elif ev == "SparkListenerTaskEnd":
            grp = stage_group.get(e.get("Stage ID"), "")
            rec = g(grp)
            tm = e.get("Task Metrics") or {}
            rec["tasks"] += 1
            rec["run_s"] += tm.get("Executor Run Time", 0) / 1e3
            rec["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            rec["bytes_read"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            rec["bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            rec["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rec["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                meta = py_acc.get(a.get("ID"))
                if meta is None:
                    continue
                name, kind = meta
                val = float(a.get("Update") or 0)
                if name == "number of output rows":
                    rec["udf_rows"] += int(val)
                elif name == "time to run Python workers":
                    rec["udf_s"] += val / (1e9 if kind == "nsTiming" else 1e3)
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals, in their unit
    (overlapping jobs,
    e.g. an async broadcast beside the main job, count once)."""
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
