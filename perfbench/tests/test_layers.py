"""Per-operation folding of spans into layer metrics."""

import layers
import spans
from test_spans import Clock, FakeSpark


def test_nested_calls_are_charged_to_the_outermost_layer():
    spark = FakeSpark()
    sc = spark.sparkContext
    clock = Clock()
    tr = spans.Tracer(spark, clock=clock)
    # op 0: a plan build that runs a job itself and one in a nested source
    # read, then the action
    tr.begin_op(0)
    with tr.span("op", "op"):
        with tr.span("plans.build", "construct"):
            sc.run_job(1)
            clock.now += 0.25
            with tr.span("tables.load_table", "sources"):
                sc.run_job(2)
        with tr.span("write", "exec"):
            sc.run_job(3)
            sc.run_job(1)
    tr.end_op()
    # op 1: an index write whose encode step is a wrapped index build
    tr.begin_op(1)
    with tr.span("op", "op"):
        with tr.span("write:ivfpq", "update"):
            with tr.span("similarity.build_ivfpq_index", "construct"):
                sc.run_job(2)
    tr.end_op()
    ops = [
        dict(i=0, kind="pass", wall=1.0, pinned=1, heap_mb=10.0),
        dict(i=1, kind="write", wall=0.5, pinned=0, heap_mb=12.0),
    ]
    extra = dict(session_start_s=1.0, build_s=2.0, warmup_s=3.0, peak_rss_mb=100.0)
    m = layers.compute(tr, {}, ops, extra)
    assert set(m) == set(layers.METRICS)
    assert m["construct.jobs"] == 1.0  # (2 + 0) / 2 operations
    assert m["construct.ms"] == 125.0  # median of 250 ms and 0 ms
    assert m["exec.jobs"] == 2.5 and m["exec.stages"] == 4.5  # (7 + 2) / 2
    assert m["update.jobs"] == 1.0
    assert m["cache.pinned_after_op"] == 1 and m["jvm.heap_used_mb"] == 11.0


def test_phase_spans_split_probe_and_update_work():
    spark = FakeSpark()
    sc = spark.sparkContext
    tr = spans.Tracer(spark, clock=Clock())
    tr.begin_op(0)
    with tr.span("op", "op"):
        with tr.span("consult", "phase"):
            with tr.span("similarity.topk_ivfpq", "construct") as build:
                sc.run_job(1)
            with tr.span("collect:topk_ivfpq", "exec") as probe:
                sc.run_job(2)
        with tr.span("register", "phase"):
            with tr.span("similarity.ivfpq_index_add", "update") as add:
                with tr.span("similarity.build_ivfpq_index", "construct"):
                    sc.run_job(1)
                sc.run_job(1)
    tr.end_op()
    events = {
        build.group: dict(bytes_read=10, bytes_written=0, job_spans=[]),
        probe.group: dict(bytes_read=100, bytes_written=0, job_spans=[]),
        add.group: dict(bytes_read=7, bytes_written=50, job_spans=[]),
    }
    ops = [dict(i=0, kind="epoch", wall=1.0, pinned=0, heap_mb=1.0)]
    extra = dict(session_start_s=1.0, build_s=2.0, warmup_s=3.0, peak_rss_mb=100.0, index_bytes=440)
    m = layers.compute(tr, events, ops, extra)
    assert m["probe.bytes_read"] == 110  # both consult spans, not the add
    assert m["probe.pruned_share"] == 0.75
    assert m["construct.jobs"] == 1  # the encode inside the add is update work
    assert m["update.jobs"] == 2
    assert m["update.bytes_written"] == 50
