"""Session lifetime, run isolation and small statistics for the benchmark."""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import subprocess
import tempfile
import time
from dataclasses import dataclass

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class WorkDir:
    """Fresh per-run scratch space inside the checkout, removed at close.

    Every path the run writes lives here: generated inputs, checkpoints,
    bronze and serving tables, Spark's local and warehouse dirs, the JVM's
    and Python's temp dirs (the staged stream copies the plans modules put
    in ``tempfile.gettempdir()``), so run N+1 cannot resume or read run N.
    """

    root: str

    @classmethod
    def create(cls) -> WorkDir:
        base = os.path.join(REPO, ".perfbench_work")
        os.makedirs(base, exist_ok=True)
        root = tempfile.mkdtemp(prefix="run-", dir=base)
        wd = cls(root)
        for sub in ("tmp", "spark-local", "warehouse"):
            os.makedirs(wd.path(sub))
        # Python side: staged copies, py4j connection files, pandas spills
        os.environ["TMPDIR"] = wd.path("tmp")
        tempfile.tempdir = wd.path("tmp")
        return wd

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def close(self) -> None:
        for _ in range(5):  # a stopping JVM may still be closing files
            shutil.rmtree(self.root, ignore_errors=True)
            if not os.path.exists(self.root):
                break
            time.sleep(0.5)
        base = os.path.dirname(self.root)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)


def spark_conf(wd: WorkDir, trace: bool) -> dict[str, str]:
    """Isolation settings and a fixed heap; every other key keeps the
    library's default (``session._DEFAULTS``), so the benchmark measures its
    configuration."""
    conf = {
        # the library's 24g default heap is sized for a 32-core box; on a
        # 4-core, 15 GB one the JVM then grew to anywhere between 2.0 and
        # 3.4 GB from run to run (peak_rss_mb IQR/median 0.30 and 0.50 in
        # two sets of seeds), while a 1g heap fills and stays there
        "spark.driver.memory": "1g",
        "spark.sql.warehouse.dir": wd.path("warehouse"),
        "spark.ui.port": "0",
        "spark.executorEnv.PYTHONPATH": REPO,
    }
    if trace:
        # the traced run reads every job, stage and SQL execution back
        # from the status API after its passes
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


class Session:
    """Starts and stops the library's SparkSession and its JVM."""

    def __init__(self, wd: WorkDir, trace: bool = False):
        self.wd = wd
        self.trace = trace
        self.spark = None
        self.jvm_pid: int | None = None
        # Spark's Python workers must import the library (pandas UDFs pickle
        # references to its modules); local-mode workers inherit this env.
        paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        # every JVM spark-submit starts (its launcher too) keeps its temp
        # files, perf data and shuffle/block dirs inside the run's space
        os.environ["SPARK_LOCAL_DIRS"] = wd.path("spark-local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={wd.path('tmp')}"

    def start(self, cores: int):
        """``session.get_spark`` at ``local[cores]``; launches a JVM unless
        one is running (then only the SparkContext is replaced)."""
        from bigdata_20251_steam_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                               extra_conf=spark_conf(self.wd, self.trace))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def peak_rss_mb(self) -> tuple[float, float]:
        """(driver Python + JVM, JVM alone) peak resident set, MiB."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        if self.jvm_pid is not None:
            with open(f"/proc/{self.jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0, jvm_kb / 1024.0

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        self.jvm_pid = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def cpu_seconds() -> float:
    """CPU time used so far by this process and every live descendant (the
    JVM, Python workers), with the reaped children each has waited for."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    times: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        times[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    me = os.getpid()
    mine = {me}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return sum(times[p] for p in mine) / tick


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (``0 <= q <= 1``)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float], wanted: int = 90) -> tuple[int, float]:
    """The highest percentile up to ``wanted`` with at least ten samples
    beyond it, and its value (the median when the sample is that small)."""
    n = len(values)
    p = wanted
    while p > 50 and n * (100 - p) / 100 < 10:
        p -= 5
    return p, percentile(values, p / 100)


def median(values: list[float]) -> float:
    return statistics.median(values)
