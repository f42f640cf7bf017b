"""The timed loop and the metrics it reports.

Plain mode (`--trace 0`) times every op with no wrappers installed and
reports the end-to-end metrics.  Traced mode (`--trace 1`) installs the
layer wrappers, runs twice the ops in alternating untraced/traced
blocks, reads the Spark status stores after each traced op, and reports
per-op medians of every per-layer metric plus the tracing overhead.
The `reader.*` metrics come from the traced output-check read-backs
(ingest reads back, per symbol, the range its timed ops wrote).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time

from perfbench.common import Clock, StatusStores, catalyst_ms, covered_seconds, median
from perfbench.trace import Tracer
from perfbench.workloads import ANALYTICS_QUERIES, WORKLOADS, setup_workload

OP_SECONDS_TAG = "perfbench: op_seconds"
END_TO_END_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "op_p80_ms": "ms", "ops_per_s": "1/s"}

# per-layer metric -> unit; every traced run reports all of them (0 where
# the workload never enters the layer)
LAYER_UNITS = {
    "writer.write_ohlc_ms": "ms",
    "writer.self_ms": "ms",
    "manifest.add_entries_ms": "ms",
    "manifest.sql_executions": "count",
    "snapshot.added_file_stats_ms": "ms",
    "snapshot.listing_ms": "ms",
    "commitlog.calls": "count",
    "commitlog.ms": "ms",
    "fs.read_calls": "count",
    "fs.list_calls": "count",
    "fs.mutating_calls": "count",
    "fs.ms": "ms",
    "storage.live_files_per_dataset": "count",
    "storage.stored_bytes_per_user_byte": "ratio",
    "reader.read_range_ms": "ms",
    "reader.files_scanned": "count",
    "reader.skip_ratio": "ratio",
    "tables.load_table_ms": "ms",
    **{f"query.{q}_ms": "ms" for q in ANALYTICS_QUERIES},
    "spark.sql_executions": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.catalyst_ms": "ms",
    "spark.driver_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.scan_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.py_worker_boot_ms": "ms",
    "spark.py_run_ms": "ms",
    "spark.py_bytes": "bytes",
    "trace.overhead_ms": "ms",
}


FILES_READ = "number of files read"
# Python-worker SQL metrics (plan nodes such as MapInPandas), by display name
PY_METRICS = {
    "spark.py_worker_boot_ms": ("time to start Python workers", "time to initialize Python workers"),
    "spark.py_run_ms": ("time to run Python workers",),
    "spark.py_bytes": ("data sent to Python workers", "data returned from Python workers"),
}


def _attempt(wl, i: int, spec) -> tuple[float, bool]:
    """Run and check one op: (wall seconds, ok).  An op that raises is
    a failed op, not a crashed run."""
    c = Clock()
    try:
        result = wl.run_op(spec)
    except Exception as e:
        print(f"op {i} failed: {type(e).__name__}: {e}", flush=True)
        return c.elapsed(), False
    dt = c.elapsed()
    return dt, wl.check_op(spec, result)


def run(spark, args, work: str, session_s: float) -> dict:
    cls = WORKLOADS[args.workload]
    wl, setup_body_s = setup_workload(cls, spark, work, args.seed, args.tiny)
    setup_s = session_s + setup_body_s
    root = os.path.dirname(work)
    if args.trace:
        return _run_traced(spark, wl, args, root)

    specs = wl.plan(args.seconds)
    wl.start_timed()
    walls, failed = [], set()
    for i, spec in enumerate(specs):
        dt, ok = _attempt(wl, i, spec)
        walls.append(dt)
        if not ok:
            failed.add(i)
    c = Clock()
    failed |= wl.finish(specs)
    print(f"perfbench: checks {c.elapsed():.2f} s", file=sys.stderr, flush=True)
    # one JSON line of op times, in op order, for the plateau check
    print(f"{OP_SECONDS_TAG} {json.dumps(walls)}", file=sys.stderr, flush=True)
    ok = [w for i, w in enumerate(walls) if i not in failed]
    p80 = statistics.quantiles(ok, n=5, method="inclusive")[3] if len(ok) > 1 else median(ok)
    values = {
        "setup_s": setup_s,
        "op_p50_ms": median(ok) * 1e3,
        "op_p80_ms": p80 * 1e3,
        "ops_per_s": len(ok) / sum(ok) if ok else 0.0,
    }
    return {
        "correct": not failed,
        "attempted": len(specs),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()},
    }


def _run_traced(spark, wl, args, root: str) -> dict:
    tracer = Tracer()
    tracer.install_layers()
    stores = StatusStores(spark)
    specs = wl.plan(args.seconds) + wl.plan(args.seconds)
    block = wl.trace_block
    wl.start_timed()
    per_op: list[dict] = []
    reads: list[dict] = []
    plain_walls, failed = [], set()

    @contextlib.contextmanager
    def traced(op):
        stores.mark()
        spark.sparkContext.setJobGroup(f"perfbench-op-{op}", "traced op", False)
        tracer.op, tracer.enabled = op, True
        try:
            yield
        finally:
            tracer.enabled = False
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def readback(workload, name):
        op = f"readback-{name}"
        with traced(op):
            yield
        execs = [e for e, _ in stores.new_executions()]
        files = stores.sql_metrics(execs, {FILES_READ})[FILES_READ]
        reads.append({
            "reader.read_range_ms": tracer.outer_ms(op, "reader.read_range"),
            "reader.files_scanned": files,
            "reader.skip_ratio": files / max(1, workload.dataset_live_files(name)),
        })

    try:
        for i, spec in enumerate(specs):
            # blocks alternate U T T U U T T U ...: a latency trend across
            # the run (warm-up) biases neither side
            if (i // block) % 4 in (0, 3):
                dt, ok = _attempt(wl, i, spec)
                plain_walls.append(dt)
            else:
                t0 = time.time()
                with traced(i):
                    dt, ok = _attempt(wl, i, spec)
                per_op.append(_op_layers(wl, spec, i, t0, dt, tracer, stores))
            if not ok:
                failed.add(i)
        failed |= wl.finish(specs, around=readback)
    finally:
        tracer.uninstall()
    tracer.dump(os.path.join(root, f"trace_{args.workload}.json"), per_op + reads)

    values = {k: median([m.get(k, 0.0) for m in per_op]) for k in LAYER_UNITS}
    # most queries start no Python worker, so a median would read 0
    for k in PY_METRICS:
        values[k] = statistics.fmean(m[k] for m in per_op) if per_op else 0.0
    for k in ("reader.read_range_ms", "reader.files_scanned", "reader.skip_ratio"):
        values[k] = median([r[k] for r in reads])
    for q in ANALYTICS_QUERIES:
        values[f"query.{q}_ms"] = median([m["wall_ms"] for m in per_op if m.get("query") == q])
    values["storage.live_files_per_dataset"] = wl.live_files()
    values["storage.stored_bytes_per_user_byte"] = wl.stored_bytes_per_user_byte
    values["trace.overhead_ms"] = (
        median([m["wall_ms"] for m in per_op]) - median(plain_walls) * 1e3
    )
    return {
        "correct": not failed,
        "attempted": len(specs),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in values.items()},
    }


def _op_layers(wl, spec, op: int, t0: float, dt: float, tracer: Tracer, stores: StatusStores) -> dict:
    execs = stores.new_executions()
    js = stores.job_stats(f"perfbench-op-{op}")
    m = {
        "wall_ms": dt * 1e3,
        "writer.write_ohlc_ms": tracer.outer_ms(op, "writer.write_ohlc"),
        "writer.self_ms": tracer.self_ms(op, "writer.write_ohlc"),
        "manifest.add_entries_ms": tracer.outer_ms(op, "manifest.add_entries"),
        "snapshot.added_file_stats_ms": tracer.outer_ms(op, "snapshot.added_file_stats"),
        "snapshot.listing_ms": tracer.outer_ms(op, "snapshot.listing"),
        "commitlog.calls": tracer.count(op, "commitlog"),
        "commitlog.ms": tracer.outer_ms(op, "commitlog"),
        "fs.read_calls": tracer.count(op, "fs.read"),
        "fs.list_calls": tracer.count(op, "fs.list"),
        "fs.mutating_calls": tracer.count(op, "fs.mutating"),
        "fs.ms": tracer.outer_ms(op, "fs."),
        "tables.load_table_ms": tracer.outer_ms(op, "tables.load_table"),
        "spark.sql_executions": len(execs),
        "spark.driver_ms": (dt - covered_seconds(js.pop("job_intervals"), t0, t0 + dt)) * 1e3,
    }
    add = tracer.intervals(op, "manifest.add_entries")
    m["manifest.sql_executions"] = sum(
        1 for _, sub in execs if any(a * 1e3 <= sub <= b * 1e3 for a, b in add)
    )
    for k, v in js.items():
        m[f"spark.{k}"] = v
    py = stores.sql_metrics([e for e, _ in execs], set().union(*PY_METRICS.values()))
    for k, names in PY_METRICS.items():
        m[k] = sum(py[n] for n in names)
    if wl.name == "analytics":
        m["spark.catalyst_ms"] = catalyst_ms(wl.last_df)
        m["query"] = spec
    return m
