"""The program under test, driven from outside: set-up, and the
traced calls into its layers.

Everything here times or counts calls into the program's public
functions; nothing patches program code except the timing wrapper
that `Tracer` puts around `tables.load_table` (installed before the
registry is imported, because operator modules bind the name at
import time).
"""

from __future__ import annotations

import importlib
import os
import re
import sys
import time
from collections import defaultdict
from collections.abc import Callable
from typing import Any

PKG = "timestream_travel_spark"
_EXCHANGE = re.compile(r"\b(?:Broadcast)?Exchange\b")
_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Per-layer totals for one traced pass, recorded around calls
    into the program. Every call runs under the Spark job group
    `<workload>:<op>:<layer>` so statusTracker can attribute its jobs,
    stages and tasks; spans are kept in memory (`spans`) and written
    out once, at the end of the run."""

    def __init__(self, workload: str) -> None:
        self.workload = workload
        self.totals: dict[str, float] = defaultdict(float)
        self.spans: list[dict[str, Any]] = []
        self.op = "-"
        self.spark = None

    def start_pass(self, spark) -> None:
        self.spark = spark
        self.totals = defaultdict(float)

    def spark_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages run, tasks run) of one job group."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                s = tracker.getStageInfo(stage)
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
        return len(jobs), stages, tasks

    def span(self, layer: str, fn: Callable[[], Any]) -> tuple[Any, float, tuple[int, int, int]]:
        """Run fn under this op's `layer` job group → (result, seconds,
        (jobs, stages, tasks))."""
        prev = self.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        group = f"{self.workload}:{self.op}:{layer}"
        self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            t1 = time.perf_counter()
            self.spans.append(
                {"op": self.op, "layer": layer, "start": t0, "end": t1, "parent": prev}
            )
            if prev:
                self.spark.sparkContext.setJobGroup(prev, prev)
            else:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return out, t1 - t0, self.spark_counts(group)

    def wrap_load_table(self, load_table: Callable) -> Callable:
        def traced_load_table(spark, sf_dir, name):
            out, secs, (jobs, _, _) = self.span("tables", lambda: load_table(spark, sf_dir, name))
            self.totals["tables.load_table_calls"] += 1
            self.totals["tables.load_table_s"] += secs
            self.totals["tables.load_table_jobs"] += jobs
            return out

        return traced_load_table

    def cached(self) -> tuple[int, float]:
        """(cached RDDs, their memory in MiB) held by the session."""
        storage = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return len(storage), sum(s.memSize() for s in storage) / 1048576

    def jvm(self) -> tuple[float, float]:
        """(cumulative GC ms, heap used MiB) of the JVM."""
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        gc_ms = 0
        it = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans().iterator()
        while it.hasNext():
            gc_ms += max(0, it.next().getCollectionTime())
        return float(gc_ms), (rt.totalMemory() - rt.freeMemory()) / 1048576


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants: the JVM and the Python workers it forks. A child
    that exits hands its time to the parent that reaps it, so the sum
    only grows; the difference of two readings is the CPU time spent
    between them, however long the machine kept the work waiting."""
    children: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited meanwhile
            continue
        # fields after "pid (comm)": state ppid ... utime stime cutime cstime
        fields = stat[stat.rindex(")") + 2 :].split()
        children[int(fields[1])].append((int(entry.name), sum(map(int, fields[11:15]))))
    ticks, todo = 0, [os.getpid()]
    while todo:
        for pid, t in children.get(todo.pop(), ()):
            ticks += t
            todo.append(pid)
    own = os.times()
    return ticks / _CLK_TCK + own.user + own.system + own.children_user + own.children_system


def count_exchanges(df) -> int:
    """Exchange nodes (shuffle and broadcast) in the executed plan."""
    return len(_EXCHANGE.findall(df._jdf.queryExecution().executedPlan().toString()))


class Program:
    """Sets the program up anew, as often as asked: a fresh
    SparkSession and a fresh import of the query registry, so no
    session cache or module-level state carries over from one pass to
    the next. Each set-up is timed, in seconds and in CPU seconds of the
    process tree; the first one also launches the JVM."""

    def __init__(self, cpus: int) -> None:
        self.cpus = cpus
        self.spark = None
        self.registry = None
        self.setup_s: list[float] = []
        self.setup_cpu_s: list[float] = []
        self.session_start_s: list[float] = []
        self.registry_load_s: list[float] = []

    def setup(self, tracer: Tracer | None = None) -> None:
        if self.spark is not None:
            self.spark.stop()
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        c0, t0 = tree_cpu_s(), time.perf_counter()
        session = importlib.import_module(f"{PKG}.session")
        spark = session.get_spark(
            "perfbench",
            cpus=self.cpus,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        if tracer is not None:
            tables = importlib.import_module(f"{PKG}.tables")
            tables.load_table = tracer.wrap_load_table(tables.load_table)
        registry = importlib.import_module(f"{PKG}.registry")
        registry.load_all()
        t2 = time.perf_counter()
        spark.range(1_000_000).selectExpr("sum(id) AS s").collect()
        t3 = time.perf_counter()
        self.setup_cpu_s.append(tree_cpu_s() - c0)
        self.spark, self.registry = spark, registry
        self.session_start_s.append(t1 - t0)
        self.registry_load_s.append(t2 - t1)
        self.setup_s.append(t3 - t0)

    def calibrate(self) -> float:
        """bench.py's fixed environment probe: a 200M-row range sum
        through the noop sink. Slow readings mark a noisy machine."""
        t0 = time.perf_counter()
        self.spark.range(200_000_000).selectExpr("sum(id) AS s").write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
