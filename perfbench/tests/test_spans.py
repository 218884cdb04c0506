"""Span self-time arithmetic, per-span job counts and event-log folding."""

import json

import spans


class Clock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


class FakeInfo:
    def __init__(self, stages):
        self.stageIds = list(range(stages))


class FakeSC:
    """Records the job group like SparkContext local properties, and lets a
    test launch jobs under whatever group is current."""

    def __init__(self):
        self.group = None
        self.jobs = {}
        self.stages = {}

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value

    def run_job(self, stages):
        jid = len(self.stages)
        self.stages[jid] = stages
        self.jobs.setdefault(self.group, []).append(jid)
        return jid

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, group):
        return list(self.jobs.get(group, []))

    def getJobInfo(self, jid):
        return FakeInfo(self.stages[jid])


class FakeSpark:
    def __init__(self):
        self.sparkContext = FakeSC()


def test_self_time_subtracts_direct_children():
    clock = Clock()
    tr = spans.Tracer(FakeSpark(), clock=clock)
    tr.begin_op(0)
    with tr.span("parent") as p:
        clock.now += 1
        with tr.span("child") as c:
            clock.now += 2
            with tr.span("grandchild") as g:
                clock.now += 0.5
        clock.now += 3
    st = spans.self_times(tr.spans)
    assert p.wall == 6.5 and c.wall == 2.5 and g.wall == 0.5
    assert st[p.sid] == 4.0
    assert st[c.sid] == 2.0
    assert st[g.sid] == 0.5
    assert sum(st.values()) == p.wall
    assert (c.parent, g.parent) == (p.sid, c.sid)


def test_jobs_per_span_and_group_restore():
    spark = FakeSpark()
    sc = spark.sparkContext
    tr = spans.Tracer(spark, clock=Clock())
    tr.begin_op(3)
    with tr.span("outer") as outer:
        sc.run_job(2)
        with tr.span("inner") as inner:
            assert sc.group == inner.group
            sc.run_job(3)
            sc.run_job(1)
        assert sc.group == outer.group  # restored after the child
        sc.run_job(4)
    assert sc.group is None
    jobs = spans.own_jobs(tr.spans)
    assert len(jobs[outer.sid]) == 2 and outer.stages == 6
    assert len(jobs[inner.sid]) == 2 and inner.stages == 4
    assert outer.group.startswith("pb3:")


def test_wrap_rebinds_every_import_site_and_unwraps():
    import types
    import sys

    mod = types.ModuleType("pbfake.a")
    other = types.ModuleType("pbfake.b")

    def f(x):
        return x + 1

    mod.f = f
    other.g = f  # `from pbfake.a import f as g`
    sys.modules["pbfake.a"], sys.modules["pbfake.b"] = mod, other
    try:
        tr = spans.Tracer(FakeSpark(), clock=Clock())
        tr.wrap(mod, ["f"], "construct")
        assert mod.f(1) == 2 and other.g(2) == 3
        assert [s.name for s in tr.spans] == ["a.f", "a.f"]
        tr.unwrap_all()
        assert mod.f is f and other.g is f
    finally:
        del sys.modules["pbfake.a"], sys.modules["pbfake.b"]


def test_union_length_counts_overlap_once():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([]) == 0


def test_parse_event_log(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    plan = {
        "nodeName": "Project",
        "metrics": [],
        "children": [
            {
                "nodeName": "ArrowEvalPython",
                "metrics": [
                    {"name": "number of output rows", "accumulatorId": 55, "metricType": "sum"},
                    {"name": "time to run Python workers", "accumulatorId": 56, "metricType": "timing"},
                ],
                "children": [],
            }
        ],
    }
    # the plan event comes last, as for a cache filled by an earlier job
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [4, 5], "Properties": {"spark.jobGroup.id": "pb2:9"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task Info": {"Accumulables": [{"ID": 55, "Update": "12"}, {"ID": 56, "Update": "250"},
                                        {"ID": 99, "Update": "7"}]},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 2_000_000_000,
                          "JVM GC Time": 100, "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4,
                          "Input Metrics": {"Bytes Read": 1000},
                          "Output Metrics": {"Bytes Written": 64},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 200}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1800},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "sparkPlanInfo": plan},
    ]
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (d / "appstatus_app").write_text("")
    out = spans.parse_event_log(str(tmp_path))["pb2:9"]
    assert (out["jobs"], out["stages"], out["tasks"]) == (1, 2, 1)
    assert (out["run_s"], out["cpu_s"], out["gc_s"]) == (1.5, 2.0, 0.1)
    assert (out["bytes_read"], out["bytes_written"], out["shuffle_write"], out["spill"]) == (1000, 64, 200, 7)
    assert out["udf_rows"] == 12 and out["udf_s"] == 0.25
    assert out["job_spans"] == [(1000, 1800)]
