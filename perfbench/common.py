"""Run environment, session lifecycle and statistics shared by the workloads.

``prepare_environment`` must run before pyspark or the engine package is
imported: it sizes the session to the machine and points every scratch
location (Spark local dirs, JVM and Python temp dirs, warehouse, Derby,
event log) at one per-run directory inside the checkout, which
``shutdown`` removes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd  # module scope: the warm-up pandas_udf resolves its hints here

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_memory_gb() -> int:
    """A quarter of the machine's memory, between 1 and 8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        return 2
    return max(1, min(8, kb // (4 * 1024 * 1024)))


@dataclass
class RunDir:
    path: Path

    @property
    def data(self) -> str:
        return str(self.path / "data")

    @property
    def catalogs(self) -> Path:
        return self.path / "catalogs"

    @property
    def eventlog(self) -> str:
        return str(self.path / "eventlog")


def prepare_environment(tag: str) -> RunDir:
    run = RunDir(WORK / f"run-{tag}-{os.getpid()}")
    shutil.rmtree(run.path, ignore_errors=True)
    for sub in ("tmp", "local", "data", "catalogs", "eventlog", "warehouse"):
        (run.path / sub).mkdir(parents=True)
    tmp = str(run.path / "tmp")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpu_count()),
            "SPARK_DRIVER_MEMORY": f"{driver_memory_gb()}g",
            "SPARK_LOCAL_DIRS": str(run.path / "local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # every JVM, the spark-submit launcher included
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    tempfile.tempdir = tmp
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return run


def session_conf(run: RunDir, trace: bool) -> dict[str, str]:
    tmp = run.path / "tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run.path / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
        "spark.sql.streaming.stateStore.maintenanceInterval": "3600s",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": run.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "true",  # one directory per application
            }
        )
    return conf


class Session:
    """Starts, warms and restarts the engine's SparkSession, timing each
    step. The first start includes the JVM launch; later ones reuse it."""

    def __init__(self, run: RunDir, trace: bool):
        self.run = run
        self.conf = session_conf(run, trace)
        self.spark = None
        self.start_s: list[float] = []
        self.warmup_s: list[float] = []

    def start(self):
        from audience_manager_platform_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", extra_conf=self.conf)
        t1 = time.perf_counter()
        self.warm()
        self.start_s.append(t1 - t0)
        self.warmup_s.append(time.perf_counter() - t1)
        return self.spark

    def warm(self) -> None:
        """One trivial JVM job plus one Arrow job that starts the Python
        workers, so no timed operation pays for them."""
        from pyspark.sql import functions as F

        spark = self.spark
        spark.range(1000).count()

        @F.pandas_udf("double")
        def _ident(s: pd.Series) -> pd.Series:
            return s

        n = cpu_count()
        spark.range(100 * n, numPartitions=n).select(_ident(F.col("id").cast("double"))).count()

    def probe(self) -> float:
        """Fixed-work calibration: a pure-Python loop plus a fixed Spark
        job. Not gated; it tells machine drift apart from code changes."""
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc = (acc + i * i) % 1_000_003
        self.spark.range(0, 4_000_000, numPartitions=cpu_count()).selectExpr(
            "sum(hash(id)) AS h"
        ).collect()
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        for q in self.spark.streams.active:
            q.stop()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a stuck JVM must not outlive the run
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def shutdown(session: Session | None, run: RunDir) -> None:
    if session is not None:
        session.stop()
    try:
        from audience_manager_platform_spark.operators import partitioning

        partitioning._sweep_materialized()
    except ImportError:
        pass
    shutil.rmtree(run.path, ignore_errors=True)


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM and Spark's Python workers), live or already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we were looking
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(f) for f in fields[11:15]) / tick
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(p for p, pp in parent.items() if pp == pid)
    return total


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return xs[k]


@dataclass
class Outcome:
    """What a workload hands back to ``run.py``."""

    metrics: dict[str, float]
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    # timings for the per-layer report, keyed by the benchmark's own names
    extra: dict[str, float] = field(default_factory=dict)
