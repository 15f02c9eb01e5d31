"""Host fingerprint and a process-tree RSS sampler (Linux /proc only)."""

from __future__ import annotations

import contextlib
import os
import signal
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over all CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def steal_share(since_s: float, wall_s: float) -> float:
    """Share of the machine's CPU time the hypervisor gave to other
    guests since the ``steal_s()`` reading ``since_s``, ``wall_s`` ago."""
    return (steal_s() - since_s) / (max(wall_s, 1e-3) * os.cpu_count())


def fingerprint(spark) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "spark_master": spark.sparkContext.master,
        "spark_driver_memory": spark.conf.get("spark.driver.memory", "unset"),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.extend(kids.get(pid, []))
        todo.extend(kids.get(pid, []))
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_exit(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to end (they need not be children: the Python
    workers are the JVM's); SIGKILL whatever is left after ``timeout_s``,
    then reap this process's exited children."""
    deadline = time.monotonic() + timeout_s
    while any(map(_running, pids)) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in filter(_running, pids):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG) != (0, 0):
            pass


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants: the driver,
    the JVM it launched and the Python workers the JVM forked."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread recording the peak process-tree RSS."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak
