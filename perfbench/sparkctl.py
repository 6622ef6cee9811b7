"""Spark session lifecycle and the traced run's Spark-side counters."""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

from .common import cmdline, descendants, peak_rss_kb, reap


def start(work: str):
    """The program's own session (``session.get_spark``: local[*], its
    default confs) with the dwrf source registered by ``sources.register``,
    as the program's query functions do. Everything Spark and its workers
    write goes under ``work``."""
    import shlex

    from hive_dwrf_spark.session import get_spark

    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # spark-submit's launcher runs a JVM of its own before Spark's
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", f"spark.driver.extraJavaOptions={jvm_opts}",
        "pyspark-shell",
    ])
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    # Workers import the package from the checkout through PYTHONPATH (set
    # before the JVM started), the local stand-in for spark-submit
    # --py-files; this skips the program's own shipping step, which
    # builds its archive outside the checkout.
    spark._hive_dwrf_shipped = True
    from hive_dwrf_spark.sources import register

    register(spark)
    return spark


def describe(spark) -> str:
    sc = spark.sparkContext
    return (
        f"{sc.master}, {sc.defaultParallelism} cores, "
        f"{spark.conf.get('spark.sql.shuffle.partitions')} shuffle partitions"
    )


@contextmanager
def session(ctx):
    """``start`` for the run's work dir; on exit ``stop``, and record in
    ``ctx.worker_peak_kb`` the largest peak resident set of the Spark
    Python workers."""
    spark = start(ctx.work)
    ctx.mark("spark session")
    try:
        yield spark
    finally:
        ctx.worker_peak_kb = stop(spark)


def stop(spark) -> int:
    """Stop the session, then the gateway JVM and every process under us
    (Python workers), waiting for each to end. Returns the largest peak
    resident set (kB) of the Python workers, where the program's sources,
    format and operator code runs; read just before the stop. The JVM is
    left out: its resident set follows the garbage collector's heap
    growth, which varies between runs of the same seed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    kids = descendants()
    peak_kb = max((peak_rss_kb(p) for p in kids if "pyspark.daemon" in cmdline(p)), default=0)
    spark.stop()
    kids = descendants()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    reap(kids)
    return peak_kb


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_NODE = re.compile(r"Python|Pandas|Arrow")


def _metric_total(text: str) -> float:
    """A SQL metric's display string -> its total ("total (min, med,
    max...)\\n<total> (...)" or a bare "<total>"), sizes in bytes."""
    line = text.split("\n")[1] if text.startswith("total") else text
    tok = line.split(" (")[0].strip().split()
    num = float(tok[0].replace(",", ""))
    if len(tok) > 1 and tok[1] in _SIZE_UNITS:
        num *= _SIZE_UNITS[tok[1]]
    return num


class Probe:
    """Per-op Spark counters: jobs/stages/tasks and shuffle bytes written
    (through a job group), and the SQL metrics of the Python operator
    nodes of every SQL execution the op started."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.core_store = self.sc._jsc.sc().statusStore()
        self._group = None
        self._exec0 = 0

    def begin(self, op_id) -> None:
        self._group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(self._group, self._group)
        self._exec0 = self.sql_store.executionsList().size()

    def end(self) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self._group)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        stages = tasks = shuffle = 0
        seen: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.core_store.lastStageAttempt(sid)
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += sd.numCompleteTasks()
                shuffle += sd.shuffleWriteBytes()
        rows_sent = bytes_sent = 0.0
        execs = self.sql_store.executionsList()
        counted: set[int] = set()
        for k in range(self._exec0, execs.size()):
            eid = execs.apply(k).executionId()
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if not _PY_NODE.search(node.name()):
                    continue
                metrics = node.metrics()
                for t in range(metrics.size()):
                    m = metrics.apply(t)
                    acc = m.accumulatorId()
                    if acc in counted:
                        continue  # a cached plan shows up once per reader
                    v = values.get(acc)
                    if not v.isDefined():
                        continue
                    if m.name() == "data sent to Python workers":
                        counted.add(acc)
                        bytes_sent += _metric_total(v.get())
                    elif m.name() == "number of output rows":
                        counted.add(acc)
                        rows_sent += _metric_total(v.get())
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "shuffle_write_bytes": shuffle,
            "python_rows_sent": rows_sent,
            "python_bytes_sent": bytes_sent,
        }


_COUNTERS = (
    ("jobs", "spark.jobs_per_op"),
    ("stages", "spark.stages_per_op"),
    ("tasks", "spark.tasks_per_op"),
    ("shuffle_write_bytes", "spark.shuffle_write_bytes_per_op"),
    ("python_rows_sent", "operators.python_rows_sent"),
    ("python_bytes_sent", "operators.python_bytes_sent"),
)


def probe_layers(loop) -> dict:
    """Per-layer metrics every Spark workload reports from its ``Loop``:
    the median of each ``Probe.end()`` counter (noted as
    ``spark.<counter>``) and the trace's own cost (traced ops' median
    latency over the plain ops', and the replay time)."""
    from .common import median, ratio

    notes = loop.layers
    out = {name: median(notes.get(f"spark.{k}", [])) for k, name in _COUNTERS}
    out["trace.overhead_ratio"] = ratio(
        median(notes.get("traced_ms", [])), median(ms for _, ms in loop.plain)
    )
    out["trace.replay_ms"] = median(notes.get("replay_ms", []))
    return out


def catalyst_phases(df) -> dict:
    """Catalyst phase durations (ms) of ``df``'s executed query."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)  # a scala Option
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out
