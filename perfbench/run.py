"""Benchmark driver: one seeded workload in one fresh process.

    python3 perfbench/run.py --workload trips_etl --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics (``layers.METRICS``) with
``--trace 1``. A human summary, including ``error_rate``, goes to standard
error. The environment is pinned here, before the JVM starts; the engine's
own files are not touched (see README.md).
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()  # process start, as seen by the interpreter

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import layers  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "advanced_logistics_data_engineering_arabic_nlp_pipeline_spark"
DRIVER_MEM = "4g"

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "live_mem_mb": "MB",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_env(work: str, trace: bool) -> None:
    """Session knobs from outside the program: cores, driver heap, one
    scratch filesystem under ``work``, the worker import path and (traced
    runs) the event log."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        SPARK_GRAFT_JAVA_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
    )
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        ev_dir = os.path.join(work, "eventlog")
        os.makedirs(ev_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ev_dir,
                "spark.eventLog.compress": "false",
            }
        )
    args = [x for k, v in conf.items() for x in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def status_mb(pid: int | str, field: str) -> float:
    """A memory field of /proc/<pid>/status (``VmHWM``, ``VmRSS``) in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise KeyError(field)


def memory_mb(spark) -> tuple[float, float]:
    """(peak, live) memory of the driver JVM plus the Python driver. Peak is
    the sum of their VmHWM. Live is the JVM heap still in use after a full
    GC, plus the JVM's committed non-heap memory (metaspace, code cache),
    plus the Python driver's VmRSS: what the process must hold, without the
    heap-growth history that makes VmHWM vary by a quarter from run to run."""
    jvm = spark._jvm.java.lang
    peak = status_mb(jvm.ProcessHandle.current().pid(), "VmHWM") + status_mb("self", "VmHWM")
    jvm.System.gc()
    mx = jvm.management.ManagementFactory.getMemoryMXBean()
    live = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getCommitted()
    return peak, live / 2**20 + status_mb("self", "VmRSS")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (the
    Python workers are its children and go with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def checked(fn) -> bool:
    """``fn()`` as a check: an exception is a failed check, not a crash."""
    try:
        return bool(fn())
    except Exception:
        traceback.print_exc()
        return False


def measure(wl, tr, seconds: float, spark, trace: bool) -> list[dict]:
    """Closed loop: operations back to back until ``seconds`` have passed."""
    jvm = spark._jvm
    ops: list[dict] = []
    t_phase = time.perf_counter()
    i = 0
    while True:
        tr.begin_op(i)
        t0 = time.perf_counter()
        try:
            with tr.span("op", "op"):
                units, out = wl.op(i)
            failed = False
        except Exception:
            traceback.print_exc()
            units, failed = 0, True
        wall = time.perf_counter() - t0
        ok = not failed and checked(lambda: wl.check(i, out))
        rec = dict(i=i, kind=wl.kind(i), wall=wall, units=units, ok=ok)
        if trace:
            rt = jvm.java.lang.Runtime.getRuntime()
            rec["pinned"] = spark.sparkContext._jsc.getPersistentRDDs().size()
            rec["heap_mb"] = (rt.totalMemory() - rt.freeMemory()) / 2**20
        tr.end_op()
        wl.after_op()
        ops.append(rec)
        i += 1
        if time.perf_counter() - t_phase >= seconds:
            break
    return ops


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    try:
        __import__(PKG)
    except ImportError as e:
        raise SystemExit(f"engine package not found under {ROOT}: {e}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_env(work, bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, work)
    try:
        return _run(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str) -> dict:
    spark = None
    try:
        t = time.perf_counter()
        wl.make_inputs()
        gen_s = time.perf_counter() - t

        from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        tr = spans.Tracer(spark) if args.trace else spans.NullTracer()
        for module, names, layer in wl.layers():
            tr.wrap(module, names, layer)

        t = time.perf_counter()
        with tr.span("setup", "setup"):
            wl.setup(spark, tr)
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_PROC - gen_s

        ops = measure(wl, tr, args.seconds, spark, bool(args.trace))
        peak_mb, live_mb = memory_mb(spark)
        checks = wl.final_check()
        traced_facts, traced_checks = {}, []
        if args.trace:
            try:
                traced_facts, traced_checks = wl.traced_step()
            except Exception:
                traceback.print_exc()
                traced_checks = [("traced step", False)]
        checks += traced_checks
        extra = dict(
            session_start_s=session_s,
            peak_rss_mb=peak_mb,
            build_s=build_s,
            warmup_s=warm_s,
            **wl.facts(),
            **traced_facts,
        )
        tr.unwrap_all()
        stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            stop_spark(spark)

    failed = sum(not o["ok"] for o in ops) + sum(not ok for _, ok in checks)
    attempted = len(ops) + len(checks)
    units = sum(o["units"] for o in ops)
    walls = [o["wall"] * 1e3 for o in ops]
    # timed windows only: output checks and the clearCache between trips
    # passes are not the program's work
    phase_s = sum(walls) / 1e3
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": units / phase_s,
        "latency_p50_ms": stats.median(walls),
        "live_mem_mb": live_mb,
    }
    p90 = stats.tail_percentile(walls, 0.9)
    log(
        f"{args.workload} seed={args.seed}: {len(ops)} ops ({units} {wl.unit}) in {phase_s:.2f} s; "
        f"peak_rss_mb={peak_mb:.1f}; inputs {gen_s:.2f} s, session {session_s:.2f} s, build {build_s:.2f} s, warm-up {warm_s:.2f} s; "
        f"error_rate={failed / attempted:.4f} ({failed}/{attempted}); "
        f"latency_p90_ms={'n/a (needs %d ops)' % stats.min_samples_for(0.9) if p90 is None else round(p90, 3)}; "
        f"failed ops={[(o['i'], o['kind']) for o in ops if not o['ok']]}; "
        f"walls={[(o['kind'], round(o['wall'], 3)) for o in ops]}; "
        f"checks={checks}; e2e={json.dumps(e2e)}"
    )
    if args.trace:
        metrics = layers.compute(tr, spans.parse_event_log(os.path.join(work, "eventlog")), ops, extra)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tr.dump(os.path.join(out_dir, f"{args.workload}-s{args.seed}-spans.json"))
        units_of = {k: v[0] for k, v in layers.METRICS.items()}
    else:
        metrics, units_of = e2e, END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units_of[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
