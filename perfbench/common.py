"""Session set-up, order statistics and Spark status-store readers.

The benchmark keeps its own copies of these helpers (rather than
importing the repo's `bench.py` or `scripts/`) so that consolidating
those later cannot change what the benchmark measures.
"""

from __future__ import annotations

import os
import statistics
import time


def task_threads() -> int:
    """Spark task threads: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def configure_environment(repo_root: str, work_dir: str) -> None:
    """Point every scratch location Spark and Python use inside
    `work_dir` and size the session before it starts.  Must run before
    the first SparkSession is built."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the launcher JVM spark-submit starts first: no files outside work_dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(task_threads())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # keep every job/stage/execution of a run in the status stores
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # no hsperfdata files in the system temp dir
        f"{args} --driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Clock:
    """Monotonic stopwatch in seconds."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0


# -- Spark status stores --------------------------------------------------------


class StatusStores:
    """Per-op engine counters read from Spark's own stores: the SQL
    status store (executions), the core AppStatusStore (jobs, stages and
    their executor metrics) and the job-group index of the status
    tracker.  Both stores work with the UI disabled.  Listener events
    arrive asynchronously, so every read first drains the listener bus.
    """

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = spark._jsparkSession.sparkContext()
        self._bus = jsc.listenerBus()
        self._core = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = 0

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def executions_count(self) -> int:
        self.drain()
        return int(self._sql.executionsCount())

    def mark(self) -> None:
        """Forget executions started so far; `new_executions` returns
        only later ones."""
        self._seen_exec = self.executions_count()

    def new_executions(self) -> list[tuple[int, int]]:
        """(execution id, submission epoch ms) of executions started
        since the last `mark`."""
        n = self.executions_count()
        execs = self._sql.executionsList(self._seen_exec, n - self._seen_exec)
        out = [
            (int(execs.apply(i).executionId()), int(execs.apply(i).submissionTime()))
            for i in range(execs.size())
        ]
        self._seen_exec = n
        return out

    def sql_metrics(self, exec_ids: list[int], names: set[str]) -> dict[str, float]:
        """Totals of the named SQL metrics over every plan node of the
        given executions (ms for timings, bytes for sizes).  The store
        keeps SQL metrics only as rendered text."""
        totals = dict.fromkeys(names, 0.0)
        for eid in exec_ids:
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                metrics = nodes.apply(i).metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    v = values.get(m.accumulatorId()) if m.name() in names else None
                    if v is not None and v.isDefined():
                        totals[m.name()] += _rendered(str(v.get()))
        return totals

    def job_stats(self, group: str) -> dict:
        """Jobs, stages, tasks and executor metrics of one job group."""
        from py4j.protocol import Py4JJavaError

        self.drain()
        tracker = self.sc.statusTracker()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        stats = {
            "jobs": len(job_ids), "stages": 0, "tasks": 0,
            "executor_run_ms": 0.0, "executor_cpu_ms": 0.0, "gc_ms": 0.0,
            "scan_bytes": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0,
            "job_intervals": [],
        }
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = self._core.job(jid)
            start, end = job.submissionTime(), job.completionTime()
            if start.isDefined() and end.isDefined():
                stats["job_intervals"].append(
                    (start.get().getTime() / 1e3, end.get().getTime() / 1e3)
                )
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                st = self._core.lastStageAttempt(sid)
            except Py4JJavaError:  # stage skipped (shuffle reuse): never ran
                continue
            if st.numCompleteTasks() == 0 and st.numFailedTasks() == 0:
                continue
            stats["stages"] += 1
            stats["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            stats["executor_run_ms"] += st.executorRunTime()
            stats["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            stats["gc_ms"] += st.jvmGcTime()
            stats["scan_bytes"] += st.inputBytes()
            stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
            stats["shuffle_read_bytes"] += st.shuffleReadBytes()
            stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return stats


_UNIT = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
         "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}


def _rendered(text: str) -> float:
    """A rendered SQL metric ("3", "568 ms", "2.2 s", "64.0 KiB", or a
    "total (min, med, max ...)" header over a line that starts with
    the total) as a number in ms or bytes."""
    fields = text.strip().splitlines()[-1].split()
    unit = _UNIT.get(fields[1], 1.0) if len(fields) > 1 else 1.0
    return float(fields[0].replace(",", "")) * unit


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time recorded by the
    DataFrame's own QueryExecution tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    it = phases.valuesIterator()
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
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
