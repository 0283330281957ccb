"""Process-level plumbing: where the run writes, the Spark session, memory
readings and shutdown.

Everything the run writes stays under its work directory inside the
checkout.  The program's own settings are untouched: the session comes
from ``session.get_spark`` and only environment the program already reads
(``SPARK_GRAFT_CPUS``, ``SSPS_SCRATCH_BASE``) or Spark and the JVM read
(``SPARK_LOCAL_DIRS``, ``JAVA_TOOL_OPTIONS``, ``TMPDIR``, ``PYTHONPATH``)
is set, before the JVM starts.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_env(work: str) -> int:
    """Point every writer at ``work`` and return the CPU count Spark gets."""
    nproc = len(os.sched_getaffinity(0))
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS", nproc)), nproc)
    dirs = {name: os.path.join(work, name) for name in ("scratch", "local", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SSPS_SCRATCH_BASE"] = dirs["scratch"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # Read by every JVM spark-submit starts (its launcher too); without
    # -XX:-UsePerfData each would write /tmp/hsperfdata_<user>.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    # Spark's Python workers unpickle the program's handlers by module
    # path, so they need the repository root on their path.
    paths = [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tempfile.tempdir = None  # re-read TMPDIR
    return cpus


def build_session():
    from spark_state_provider_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of this process (``driver``), its
    direct children (``jvm``) and everything under those (``workers``:
    Spark's Python daemon and workers), plus the worker count."""
    me = os.getpid()
    kids = _children()
    out = {"driver": _vm_hwm_kb(me) / 1024.0, "jvm": 0.0, "workers": 0.0, "n_workers": 0}
    for child in kids.get(me, ()):
        out["jvm"] += _vm_hwm_kb(child) / 1024.0
        todo = list(kids.get(child, ()))
        while todo:
            p = todo.pop()
            out["workers"] += _vm_hwm_kb(p) / 1024.0
            out["n_workers"] += 1
            todo.extend(kids.get(p, ()))
    return out


class Jvm:
    """GC time and heap readings from the JVM's management beans."""

    def __init__(self, spark):
        self._mf = spark._jvm.java.lang.management.ManagementFactory

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()))

    def heap_used_mb(self) -> float:
        return self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait for every child process to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + 20
        for pid in kids:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
