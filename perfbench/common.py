"""Shared plumbing for the workloads: host record, session sizing, work
directory, memory high-water marks, spans, and Spark status-store counters.

Everything here wraps the engine from outside; no engine module is changed
to be measured.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb() -> int:
    """An eighth of the host's memory, 1-8 GB: the engine's 8 GB default
    and bench.py's 48 GB assume a larger, unshared host."""
    return max(1, min(8, mem_total_mb() // 8192))


def host_record() -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "driver_memory_gb": driver_memory_gb(),
    }


def cpu_jiffies() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of this machine's CPU time between two ``cpu_jiffies`` reads
    that the hypervisor gave to other guests (steal). Runs taken while
    it is high read slower for reasons outside the program."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def calibrate() -> float:
    """bench.py's single-core loop (2 M iterations, best of two), so host
    speed travels with every result."""
    from bench import _calibrate_single_core

    return _calibrate_single_core(2_000_000)


class WorkDir:
    """A private scratch directory inside the checkout, removed on exit."""

    def __init__(self, name: str):
        self.path = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
        os.makedirs(self.path)
        # Python's tempfile and py4j's gateway handshake honour TMPDIR
        os.environ["TMPDIR"] = self.sub("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_session(work: WorkDir, app: str):
    """The engine's session factory, sized to the host."""
    from learn_etl_data_warehouse_spark.session import get_spark

    cores = nproc()
    heap = driver_memory_gb()
    tmp = work.sub("tmp")
    return get_spark(
        app_name=f"perfbench-{app}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": f"{heap}g",
            "spark.sql.shuffle.partitions": str(max(2 * cores, 8)),
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": work.sub("spark-local"),
            "spark.sql.warehouse.dir": work.sub("spark-warehouse"),
            # a heap committed whole at start keeps the peak-RSS metric from
            # following the collector's grow-or-collect choices run to run
            "spark.driver.extraJavaOptions":
                f"-Xms{heap}g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def cpu_seconds(spark) -> float:
    """User plus system CPU time so far of the driver JVM and this process."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    me = os.times()
    return jvm + me.user + me.system


def peak_rss_mb(spark) -> float:
    """High-water resident memory of the driver JVM plus this Python process."""
    jvm = _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm + py) / 1024


median = statistics.median


def tail(xs: list[float]) -> tuple[int | None, float | None]:
    """The highest whole percentile with at least ten samples beyond it,
    and its value; (None, None) below twenty samples."""
    pct = max((p for p in range(50, 100) if len(xs) * (100 - p) / 100 >= 10), default=None)
    if pct is None:
        return None, None
    return pct, statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]


class Tracer:
    """Seconds spent in each named span, kept in memory. Only a traced run
    creates spans; untraced runs call the engine unwrapped."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.seconds: dict[str, float] = defaultdict(float)

    def reset(self) -> None:
        self.seconds.clear()

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] += time.perf_counter() - t0

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch_collect(self) -> None:
        """Split every ``DataFrame.collect`` into Catalyst planning (forcing
        ``executedPlan``, which the collect then reuses) and execution."""
        from pyspark.sql.classic.dataframe import DataFrame

        collect = DataFrame.collect

        def traced_collect(df):
            with self.span("catalyst"):
                df._jdf.queryExecution().executedPlan()
            with self.span("exec"):
                return collect(df)

        DataFrame.collect = traced_collect


class SparkCounters:
    """Job, SQL-execution, shuffle-write and spill counts from the status
    store (works with ``spark.ui.enabled=false``). ``delta`` drains the
    listener bus first, so the last job's stages are counted."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def _last_job(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def _last_sql(self) -> int:
        if self.sql_store.executionsCount() == 0:
            return -1
        return self.sql_store.executionsList().last().executionId()

    def snapshot(self) -> tuple[int, int]:
        self.jsc.listenerBus().waitUntilEmpty()
        return self._last_job(), self._last_sql()

    def delta(self, before: tuple[int, int]) -> dict[str, int]:
        job0, sql0 = before
        job1, sql1 = self.snapshot()
        shuffle = spill = 0
        stages = set()
        as_java = self.spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        for jid in range(job0 + 1, job1 + 1):
            stages.update(as_java(self.store.job(jid).stageIds()))
        for sid in stages:
            try:
                s = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: planned, never run
                continue
            shuffle += s.shuffleWriteBytes()
            spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return {
            "jobs": job1 - job0,
            "sql_execs": sql1 - sql0,
            "shuffle_write_bytes": shuffle,
            "spill_bytes": spill,
        }


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def layer_metrics(*, session_s: float, read_s: float, build_ms: float, catalyst_ms: float,
                  exec_ms: float, wall_ms: float, traced_p50_ms: float,
                  deltas: dict[str, float]) -> dict:
    """The per-layer metrics every workload reports (BENCHMARK.json
    ``per_layer``). Per-operation times partition the traced operation's
    wall time: engine builders, Catalyst planning, execution, and the rest
    (serving edge, commit renames, harness)."""
    return {
        "session.start_s": {"value": session_s, "unit": "s"},
        "sources.read_s": {"value": read_s, "unit": "s"},
        "build_ms": {"value": build_ms, "unit": "ms"},
        "catalyst_ms": {"value": catalyst_ms, "unit": "ms"},
        "exec_ms": {"value": exec_ms, "unit": "ms"},
        "other_ms": {"value": wall_ms - build_ms - catalyst_ms - exec_ms, "unit": "ms"},
        "traced_op_p50_ms": {"value": traced_p50_ms, "unit": "ms"},
        "spark.jobs_per_op": {"value": deltas["jobs"], "unit": "count"},
        "spark.sql_execs_per_op": {"value": deltas["sql_execs"], "unit": "count"},
        "spark.shuffle_write_bytes_per_op": {"value": deltas["shuffle_write_bytes"],
                                             "unit": "bytes"},
        "spark.spill_bytes_per_op": {"value": deltas["spill_bytes"], "unit": "bytes"},
    }
