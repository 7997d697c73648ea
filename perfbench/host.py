"""Host-side measurement: CPU accounting from /proc/stat, peak RSS of
the benchmark's process tree, the run stamp, and shutting the Spark
JVM down so that no process outlives the run."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import sys
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_jiffies() -> list:
    """[user, nice, system, idle, iowait, irq, softirq, steal] summed
    over all CPUs."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


class CpuWindow:
    """Steal and other-process CPU over the life of the run.  Steal is
    recorded as measured; a noisy run is reported, never dropped."""

    def __init__(self):
        self._start = _cpu_jiffies()

    def summary(self, own_ticks: int) -> dict:
        """own_ticks: CPU clock ticks used by the benchmark's own
        process tree over the same interval."""
        d = [b - a for a, b in zip(self._start, _cpu_jiffies())]
        total = sum(d) or 1
        busy = total - d[3] - d[4]
        return {"steal_frac": d[7] / total,
                "busy_frac": busy / total,
                "other_cpu_frac": max(0, busy - d[7] - own_ticks) / total}


def _children_map() -> dict:
    kids = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> list:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_kb(pid: int) -> tuple:
    """(resident set size, its high-water mark) in kB."""
    rss = hwm = 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
                elif line.startswith("VmHWM:"):
                    hwm = int(line.split()[1])
    except OSError:
        pass
    return rss, hwm


def _exe(pid: int) -> str:
    try:
        return os.path.realpath(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _cpu_ticks(pid: int) -> int:
    """utime + stime of one process, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return int(f[11]) + int(f[12])
    except (OSError, IndexError, ValueError):
        return 0


class TreeMonitor:
    """Samples the summed RSS of this process and its descendants (the
    JVM and its Python workers) every `period` seconds.  Remembers every
    descendant seen, so they can be waited for at the end, and the last
    CPU time read from each, so the tree's CPU use can be told apart
    from other processes'."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self.peak_jvm_kb = 0
        self.peak_py_kb = 0
        self.peak_one_py_kb = 0
        self._python = os.path.realpath(sys.executable)
        self.seen = set()
        self._ticks = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self._sample(me)
            self._stop.wait(self.period)

    def _sample(self, me: int):
        pids = _tree(me)
        self.seen.update(p for p in pids if p != me)
        mem = {p: _rss_kb(p) for p in pids}
        # Python workers run this interpreter; a child the JVM has
        # spawned but not yet exec'd still shares the JVM's memory and
        # its exe, so it counts with the JVM
        workers = [p for p in pids if p != me and _exe(p) == self._python]
        jvm = set(pids) - set(workers) - {me}
        total = sum(rss for rss, _ in mem.values())
        self.peak_kb = max(self.peak_kb, total)
        self.peak_jvm_kb = max(self.peak_jvm_kb, sum(mem[p][0] for p in jvm))
        self.peak_py_kb = max(self.peak_py_kb,
                              sum(mem[p][0] for p in workers))
        # the kernel's high-water mark catches peaks between samples
        self.peak_one_py_kb = max([self.peak_one_py_kb]
                                  + [mem[p][1] for p in workers])
        for p in pids:
            self._ticks[p] = max(self._ticks.get(p, 0), _cpu_ticks(p))

    @property
    def cpu_ticks(self) -> int:
        return sum(self._ticks.values())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark, seen: set, timeout: float = 30.0) -> list:
    """Stop the session, end the JVM through its stdin pipe, wait for
    it, then wait for (and finally kill) any descendant recorded while
    it ran.  Returns the pids that had to be killed."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    seen = set(seen) | set(_tree(os.getpid())) - {os.getpid()}
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline and any(map(_alive, seen)):
        time.sleep(0.1)
    killed = [p for p in seen if _alive(p)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in killed:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            while _alive(p):
                time.sleep(0.05)
    return killed


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def git_sha(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def stamp(root: str) -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {"nproc": nproc(), "python": platform.python_version(),
            "pyspark": pyspark.__version__, "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__, "git_sha": git_sha(root),
            "mem_total_kb": _meminfo("MemTotal")}


def _meminfo(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0
