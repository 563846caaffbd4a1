"""Host sizing, run conditions and process-tree accounting.

The benchmark's process tree is this Python driver, the Spark JVM it
launches, and the Python workers the JVM forks. CPU seconds and RSS are
read for the whole tree from ``/proc``, so Python kernel time that
Spark's ``executorCpuTime`` does not see is counted.
"""

from __future__ import annotations

import os
import threading
import time

from benchlib import read_steal

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def mem_total_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of host RAM, at most 6 GiB: the JVM heap must stay well
    below physical memory, which the Python workers share."""
    return f"{min(mem_total_mib() // 4, 6144)}m"


def session_env(root: str, work: str) -> dict[str, str]:
    """Session settings that keep every process on this host's budget
    and inside the checkout; engine defaults are left alone.

    Returns the ``extra_conf`` for ``get_spark`` and updates the
    environment the JVM and its Python workers inherit: the repository
    goes on the workers' ``PYTHONPATH`` (the driver's ``sys.path`` does
    not reach them), and temporary files go under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    return {
        "spark.driver.memory": driver_memory(),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # fields after "(comm)": state, ppid, ..., utime at index 11, rss at 21
    return data[data.rfind(")") + 2:].split()


class ProcessTree:
    """CPU seconds and peak RSS of this process and its descendants.
    A daemon thread samples RSS every ``interval`` seconds; ``peak_rss_mib``
    is the highest sample since the last ``reset_peak``."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_rss_mib = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    @staticmethod
    def stats(root: int | None = None) -> dict[int, list[str]]:
        """``/proc/<pid>/stat`` fields of ``root`` (default: this
        process) and its descendants."""
        stats = {pid: s for pid in os.listdir("/proc") if pid.isdigit() and (s := _stat(pid))}
        children: dict[str, list[str]] = {}
        for pid, s in stats.items():
            children.setdefault(s[1], []).append(pid)
        todo, tree = [str(root or os.getpid())], {}
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree[int(pid)] = stats[pid]
            todo.extend(children.get(pid, ()))
        return tree

    def cpu_s(self) -> float:
        """utime+stime of live members plus that of reaped children."""
        return sum(sum(int(x) for x in s[11:15]) for s in self.stats().values()) / _CLK

    def rss_mib(self) -> float:
        return sum(int(s[21]) for s in self.stats().values()) * _PAGE / 2**20

    def reset_peak(self) -> None:
        self.peak_rss_mib = self.rss_mib()

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_rss_mib = max(self.peak_rss_mib, self.rss_mib())

    def __enter__(self) -> ProcessTree:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Conditions:
    """Hypervisor steal (cores taken, averaged over the window) and the
    1-minute load at both ends of a measured window."""

    def __init__(self):
        self.t0, self.steal0, self.load0 = time.perf_counter(), read_steal(), os.getloadavg()[0]

    def record(self) -> dict:
        wall = time.perf_counter() - self.t0
        return {
            "steal_cores": (read_steal() - self.steal0) / max(wall, 1e-9),
            "load1_start": self.load0,
            "load1_end": os.getloadavg()[0],
            "cores": cores(),
            "mem_total_mib": mem_total_mib(),
            "driver_memory": driver_memory(),
        }
