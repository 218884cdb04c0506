"""Per-layer metrics of the traced run, and the end-to-end metric each one
is expected to move.

``METRICS`` is the single list: ``BENCHMARK.json``'s ``per_layer`` entries
are its names, units and directions (a test keeps them equal), and
``moves`` records which end-to-end metric a change in the layer shows up
in, on which workload.
"""

from __future__ import annotations

import statistics

from spans import own_jobs, union_length

# name: (unit, better, layer, moves "<metric> on <workloads>")
METRICS = {
    "session.start_s": ("s", "lower", "session", "setup_s on all"),
    "setup.build_s": ("s", "lower", "operators.similarity / retrieval", "setup_s on index_serve"),
    "setup.warmup_s": ("s", "lower", "session", "setup_s on all"),
    "construct.ms": ("ms", "lower", "plans.* / operators.* construction", "latency_p50_ms on trips_etl"),
    "construct.jobs": ("count", "lower", "plans.* / operators.* construction", "latency_p50_ms on trips_etl, index_serve"),
    "catalyst.analysis_ms": ("ms", "lower", "Catalyst", "latency_p50_ms on index_serve; none on trips_etl"),
    "catalyst.optimization_ms": ("ms", "lower", "Catalyst", "latency_p50_ms on index_serve; none on trips_etl"),
    "catalyst.planning_ms": ("ms", "lower", "Catalyst", "latency_p50_ms on index_serve; none on trips_etl"),
    "exec.jobs": ("count", "lower", "Spark execution", "latency_p50_ms on index_serve"),
    "exec.stages": ("count", "lower", "Spark execution", "latency_p50_ms on index_serve"),
    "exec.tasks": ("count", "lower", "Spark execution", "latency_p50_ms on index_serve"),
    "exec.run_s": ("s", "lower", "Spark execution", "throughput_per_s on trips_etl"),
    "exec.cpu_s": ("s", "lower", "Spark execution", "throughput_per_s on trips_etl"),
    "exec.gc_s": ("s", "lower", "Spark execution", "throughput_per_s on trips_etl"),
    "driver.gap_ms": ("ms", "lower", "driver (Python + py4j)", "latency_p50_ms on all"),
    "scan.bytes_read": ("bytes", "lower", "sources", "throughput_per_s on trips_etl"),
    "shuffle.write_bytes": ("bytes", "lower", "shuffle", "throughput_per_s on trips_etl"),
    "spill.bytes": ("bytes", "lower", "shuffle", "throughput_per_s on trips_etl"),
    "udf.rows": ("count", "lower", "Arrow UDFs (operators.lookup, operators.similarity)", "latency_p50_ms on index_serve; none on trips_etl"),
    "udf.python_s": ("s", "lower", "Arrow UDFs (operators.lookup, operators.similarity)", "latency_p50_ms on index_serve; none on trips_etl"),
    "lookup.fuzzy_share": ("ratio", "lower", "operators.lookup", "none on trips_etl (control)"),
    "probe.bytes_read": ("bytes", "lower", "operators.similarity", "latency_p50_ms on index_serve"),
    "probe.pruned_share": ("ratio", "higher", "operators.similarity", "latency_p50_ms on index_serve"),
    "update.jobs": ("count", "lower", "operators.similarity", "latency_p50_ms, throughput_per_s on index_serve"),
    "update.bytes_written": ("bytes", "lower", "operators.similarity", "latency_p50_ms on index_serve"),
    "curation.rows_in": ("count", "higher", "operators.curation / dedup", "none: the delta's size (traced index_serve only)"),
    "curation.rows_kept": ("count", "lower", "operators.curation / dedup", "none: what the delta keeps (traced index_serve only)"),
    "curation.jobs": ("count", "lower", "operators.curation / dedup", "none end to end: no curation workload (traced index_serve only)"),
    "curation.delta_s": ("s", "lower", "operators.curation / dedup", "none end to end: no curation workload (traced index_serve only)"),
    "index.bytes_written": ("bytes", "lower", "operators.curation / dedup", "none end to end: no curation workload (traced index_serve only)"),
    "index.write_amp": ("ratio", "lower", "operators.curation / dedup", "none end to end: no curation workload (traced index_serve only)"),
    "index.files": ("count", "lower", "operators.curation / dedup", "none end to end: no curation workload (traced index_serve only)"),
    "cache.pinned_after_op": ("count", "lower", "service / memory", "live_mem_mb on all"),
    "jvm.heap_used_mb": ("MB", "lower", "service / memory", "live_mem_mb on all"),
    "peak_rss_mb": ("MB", "lower", "service / memory", "live_mem_mb on all"),
    "trace.latency_p50_ms": ("ms", "lower", "tracing", "latency_p50_ms (traced minus untraced is the overhead)"),
    "trace.overhead_ms": ("ms", "lower", "tracing", "none: bookkeeping per operation"),
}


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def op_of(group: str) -> int | None:
    """Operation id from a span job group ``pb<op>:<sid>``."""
    if not group.startswith("pb") or ":" not in group:
        return None
    head = group[2:].split(":", 1)[0]
    return None if head == "None" else int(head)


def compute(tr, events: dict, ops: list[dict], extra: dict) -> dict[str, float]:
    """Fold spans, Catalyst phases and event-log totals of the measured
    operations ``ops`` (dicts with ``i``, ``kind``, ``wall``, ``pinned``,
    ``heap_mb``) into ``METRICS``. ``extra`` carries set-up timings and
    workload facts (``tokens_per_op``, ``index_bytes``, the ``curation_*``
    figures of the traced curation step)."""
    measured = {o["i"] for o in ops}
    by_sid = {s.sid: s for s in tr.spans}
    jobs = own_jobs(tr.spans)

    def top(s):
        """The outermost span of an operation below its ``op`` span or its
        workload phase: the layer a nested call is charged to (an encode
        inside an index add is update work, not construction)."""
        while s.parent in by_sid and by_sid[s.parent].layer not in ("op", "phase"):
            s = by_sid[s.parent]
        return s

    def phase(s):
        """Name of the workload phase (``consult``, ``register``, ...) the
        span runs in, if any."""
        while s is not None and s.layer != "phase":
            s = by_sid.get(s.parent)
        return s.name if s is not None else None

    per_op = {i: dict(construct_s=0.0, construct_jobs=0, jobs=0, stages=0, update_jobs=None) for i in measured}
    for s in tr.spans:
        if s.op not in per_op:
            continue
        rec = per_op[s.op]
        rec["jobs"] += len(jobs[s.sid])
        rec["stages"] += s.stages
        t = top(s)
        if t.layer == "construct":
            rec["construct_jobs"] += len(jobs[s.sid])
            if t is s:
                rec["construct_s"] += s.wall
        if t.layer == "update":
            rec["update_jobs"] = (rec["update_jobs"] or 0) + len(jobs[s.sid])

    ev_op: dict[int, dict] = {}
    probe_read: dict[int, float] = {}
    update_written: dict[int, float] = {}
    construct_job_spans: dict[int, list] = {}
    for grp, rec in events.items():
        i = op_of(grp)
        if i not in measured:
            continue
        acc = ev_op.setdefault(i, {k: (0 if not isinstance(v, list) else []) for k, v in rec.items()})
        for k, v in rec.items():
            acc[k] = acc[k] + v
        s = by_sid.get(int(grp.split(":", 1)[1]))
        if s is None:
            continue
        if top(s).layer == "construct":
            construct_job_spans.setdefault(i, []).extend(rec["job_spans"])
        if phase(s) == "consult":
            probe_read[i] = probe_read.get(i, 0) + rec["bytes_read"]
        if top(s).layer == "update":
            update_written[i] = update_written.get(i, 0) + rec["bytes_written"]

    def ev(i: int, k: str):
        return ev_op.get(i, {}).get(k, 0)

    # driver gap: wall not covered by Spark jobs, Catalyst optimisation and
    # planning, or the Python side of plan construction (a plan-building
    # call that runs a job is charged that job once, as job time)
    gaps = []
    for o in ops:
        i = o["i"]
        cat = tr.catalyst_ms.get(i, {})
        jobs_ms = union_length(ev(i, "job_spans") or [])
        construct_ms = per_op[i]["construct_s"] * 1e3 - union_length(construct_job_spans.get(i, []))
        gaps.append(
            o["wall"] * 1e3 - jobs_ms - construct_ms
            - cat.get("optimization", 0.0) - cat.get("planning", 0.0)
        )

    ids = [o["i"] for o in ops]
    probe_bytes = _mean(probe_read.values())
    udf_rows = sum(ev(i, "udf_rows") for i in ids)
    tokens = extra.get("tokens_per_op", 0) * len(ops)
    idx_bytes = extra.get("index_bytes", 0)
    cur_in = extra.get("curation_input_bytes", 0)
    return {
        "session.start_s": extra["session_start_s"],
        "setup.build_s": extra["build_s"],
        "setup.warmup_s": extra["warmup_s"],
        "construct.ms": _med(per_op[i]["construct_s"] * 1e3 for i in ids),
        "construct.jobs": _mean(per_op[i]["construct_jobs"] for i in ids),
        "catalyst.analysis_ms": _med(tr.catalyst_ms.get(i, {}).get("analysis", 0.0) for i in ids),
        "catalyst.optimization_ms": _med(tr.catalyst_ms.get(i, {}).get("optimization", 0.0) for i in ids),
        "catalyst.planning_ms": _med(tr.catalyst_ms.get(i, {}).get("planning", 0.0) for i in ids),
        "exec.jobs": _mean(per_op[i]["jobs"] for i in ids),
        "exec.stages": _mean(per_op[i]["stages"] for i in ids),
        "exec.tasks": _mean(ev(i, "tasks") for i in ids),
        "exec.run_s": _mean(ev(i, "run_s") for i in ids),
        "exec.cpu_s": _mean(ev(i, "cpu_s") for i in ids),
        "exec.gc_s": _mean(ev(i, "gc_s") for i in ids),
        "driver.gap_ms": _med(gaps),
        "scan.bytes_read": _mean(ev(i, "bytes_read") for i in ids),
        "shuffle.write_bytes": _mean(ev(i, "shuffle_write") for i in ids),
        "spill.bytes": _mean(ev(i, "spill") for i in ids),
        "udf.rows": _mean(ev(i, "udf_rows") for i in ids),
        "udf.python_s": _mean(ev(i, "udf_s") for i in ids),
        "lookup.fuzzy_share": udf_rows / tokens if tokens else 0.0,
        "probe.bytes_read": probe_bytes,
        "probe.pruned_share": max(0.0, 1.0 - probe_bytes / idx_bytes) if idx_bytes and probe_read else 0.0,
        "update.jobs": _mean(r["update_jobs"] for r in per_op.values() if r["update_jobs"] is not None),
        "update.bytes_written": _mean(update_written.values()),
        "curation.rows_in": extra.get("curation_rows_in", 0),
        "curation.rows_kept": extra.get("curation_rows_kept", 0),
        "curation.jobs": extra.get("curation_jobs", 0),
        "curation.delta_s": extra.get("curation_delta_s", 0.0),
        "index.bytes_written": extra.get("curation_bytes_written", 0),
        "index.write_amp": extra.get("curation_bytes_written", 0) / cur_in if cur_in else 0.0,
        "index.files": extra.get("curation_files", 0),
        "cache.pinned_after_op": max(o["pinned"] for o in ops),
        "jvm.heap_used_mb": _med(o["heap_mb"] for o in ops),
        "peak_rss_mb": extra["peak_rss_mb"],
        "trace.latency_p50_ms": _med(o["wall"] * 1e3 for o in ops),
        "trace.overhead_ms": _mean(tr.overhead_s.get(i, 0.0) * 1e3 for i in ids),
    }
