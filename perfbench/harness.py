"""Session, span and memory plumbing shared by the benchmark workloads.

Everything the run writes lives under `<checkout>/.perfbench/`: the
input cache, per-run outputs, Spark's local dir, the JVM and Python
temp dirs, and the traced run's event log.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
MB = 1e6


def prepare_env() -> None:
    """Point every temp location of the driver, the JVM and the Python
    workers inside the checkout. Must run before pyspark starts."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM spark-submit starts: temp files inside the checkout, and
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def ncores() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """One SparkSession at a time from `get_spark` with its defaults for
    `local[nproc]`; only deployment settings are passed (temp dirs,
    console progress off, and the event log for the traced run)."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None
        self.event_dir: str | None = None

    def start(self, event_log: bool = False):
        from deduplication_spark import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if event_log:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            shutil.rmtree(self.event_dir, ignore_errors=True)
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name="perfbench", cores=ncores(), extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers it forked) to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    @contextmanager
    def tagged(self, tag: str | None):
        sc = self.spark.sparkContext
        sc.setJobDescription(tag)
        try:
            yield
        finally:
            sc.setJobDescription(None)


def _proc_table() -> dict[str, tuple[str, str, int]]:
    """pid -> (ppid, cmdline, VmHWM kB) for every readable process."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().decode(errors="replace")
        except OSError:
            continue
        ppid = hwm = None
        for line in status.splitlines():
            if line.startswith("PPid:"):
                ppid = line.split()[1]
            elif line.startswith("VmHWM:"):
                hwm = int(line.split()[1])
        out[pid] = (ppid or "0", cmd, hwm or 0)
    return out


def _descendants(table: dict) -> list[str]:
    kids: dict[str, list[str]] = {}
    for pid, (ppid, _c, _h) in table.items():
        kids.setdefault(ppid, []).append(pid)
    desc, stack = [], [str(os.getpid())]
    while stack:
        for c in kids.get(stack.pop(), []):
            desc.append(c)
            stack.append(c)
    return desc


def engine_cpu_s() -> float:
    """CPU seconds used so far by this process's descendants: the JVM
    (driver and executor threads) and the Python UDF workers, including
    workers that already exited and were reaped (cutime/cstime). The
    event log's executor CPU time misses the Python side."""
    table = _proc_table()
    ticks = 0
    for pid in _descendants(table):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def memory_snapshot() -> tuple[float, float]:
    """(Python MB, JVM MB): VmHWM of this driver process plus every live
    descendant Python process (the pandas-UDF workers), and the largest
    descendant JVM's VmHWM."""
    table = _proc_table()
    desc = _descendants(table)
    py = table.get(str(os.getpid()), ("", "", 0))[2]
    jvm = 0
    for pid in desc:
        _p, cmd, hwm = table[pid]
        if "java" in cmd:
            jvm = max(jvm, hwm)
        elif "python" in cmd:
            py += hwm
    return py * 1024 / MB, jvm * 1024 / MB


class PeakMemory:
    """Samples memory_snapshot() every `period` seconds on a daemon
    thread and keeps the peaks."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.python_mb = 0.0
        self.jvm_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        py, jvm = memory_snapshot()
        self.python_mb = max(self.python_mb, py)
        self.jvm_mb = max(self.jvm_mb, jvm)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, "out", *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def now_ms() -> float:
    return time.time() * 1000.0
