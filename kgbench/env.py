"""Environment pinning, host facts, memory sampling and process cleanup."""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time


def pin(root: str, work: str, ncpu: int) -> dict:
    """Set the variables the session factory and Spark's Python workers
    read, so a run never depends on the caller's shell. Returns them."""
    local = os.path.join(work, "spark_local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        # session.py defaults to 32g; a 4-core, 15 GiB host has far less
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_LOCAL_DIR": local,
        # Spark's Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in [root, os.environ.get("PYTHONPATH", "")] if p),
        "PYTHONHASHSEED": "0",
        "TMPDIR": tmp,
    }
    os.environ.update(pinned)
    return pinned


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (``tmpfs`` or not)."""
    best, fstype = "", "unknown"
    path = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, fstype = mnt, parts[2]
    return fstype


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def host(spark=None) -> dict:
    out = {
        "nproc": os.cpu_count(),
        "mem_total_kb": mem_total_kb(),
        "python": platform.python_version(),
    }
    if spark is not None:
        out["spark"] = spark.version
        out["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        out["master"] = spark.sparkContext.master
    return out


# -- processes -----------------------------------------------------------------

def children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in children(p):
            if c not in seen:
                seen.append(c)
                todo.append(c)
    return seen


def rss_kb(pid: int, field: str = "VmRSS") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_s(pid: int) -> float:
    """User + system CPU seconds ``pid`` has used so far, all its threads
    and its children that have exited (a Python worker that ends mid-op
    still counts)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(") ", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the Spark JVM and its Python workers)."""
    me = os.getpid()
    return sum(cpu_s(p) for p in [me, *descendants(me)])


def jvm_hwm_kb() -> int:
    """Peak resident set size of the Spark gateway JVM so far (VmHWM)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return rss_kb(proc.pid, "VmHWM") if proc is not None else 0


class RssSampler:
    """Peak summed resident set size of every process under this one: the
    Spark JVM, its Python worker daemon and workers (pages shared after
    fork count once per process). The runner itself is left out: it holds
    the benchmark's inputs and oracle as well as the program's driver."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(rss_kb(p) for p in descendants(me)))
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end the gateway JVM and wait for it and every
    process it started (the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    from py4j.protocol import Py4JError

    try:
        spark.stop()
    except Py4JError:
        pass  # the gateway connection is gone; the JVM is ended below
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # already closed: the JVM is exiting anyway
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + timeout
        kids += [p for p in descendants(os.getpid()) if p not in kids]
        for p in kids:
            while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
                try:
                    with open(f"/proc/{p}/stat") as f:
                        if f.read().split(") ")[-1].startswith("Z"):
                            break  # zombie: exited, awaiting its parent
                except OSError:
                    break
                time.sleep(0.05)
            if os.path.exists(f"/proc/{p}"):
                try:
                    os.kill(p, 9)
                except OSError:
                    pass


def kill_tree() -> None:
    """Last resort on the watchdog path: kill every descendant now."""
    for p in reversed(descendants(os.getpid())):
        try:
            os.kill(p, 9)
        except OSError:
            pass
