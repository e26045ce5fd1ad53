"""Host-side helpers: session pinning, a no-Spark host-capacity control,
peak RSS of the process tree, and reaping every process the run started."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

def cores() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """An eighth of the host's memory, between 1 and 1.5 GiB. The session's
    24g default exceeds small hosts; the workloads' inputs are a few MB, and
    a small heap keeps the run light on a shared host and lets the JVM's
    RSS level off instead of growing with every operation."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mb = min(max(total_kb // 1024 // 8, 1024), 1536)
    return f"{mb}m"


BURN = """
import sys, time
n, start = int(sys.argv[1]), float(sys.argv[2])
time.sleep(max(0.0, start - time.time()))
t = time.perf_counter()
s = 0
for i in range(n):
    s += i * i
print(time.perf_counter() - t)
"""


def host_control(n_procs: int, work: int = 1_000_000) -> float:
    """Pure-CPU work units (millions of loop steps) per second summed over
    ``n_procs`` concurrent interpreter processes, no Spark: the same kind of
    control the repository's bench stamps on its results, so host drift is
    visible beside every figure."""
    start = time.time() + 0.2  # every process starts burning together
    procs = [
        subprocess.Popen([sys.executable, "-c", BURN, str(work), str(start)],
                         stdout=subprocess.PIPE, text=True)
        for _ in range(n_procs)
    ]
    secs = [float(p.communicate(timeout=60)[0]) for p in procs]
    return sum(work / 1e6 / s for s in secs)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def pss_bytes(pids) -> int:
    """Summed proportional set size: resident pages, with each page shared
    by n processes counted 1/n in each. A plain RSS sum counts the JVM twice
    whenever it forks a helper process, and every forked Python worker's
    inherited pages once per worker."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the summed resident memory (PSS) of this process and all its
    descendants (the JVM and the Python workers) every ``interval`` seconds;
    ``peak`` is the highest sum seen since start() or the last reset().
    Each sample walks the page tables of every process (gigabytes for the
    JVM), so sampling is kept to a few times a second: it takes CPU from
    the operations being timed."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % 5 == 0:  # the tree changes rarely; re-walk once a second
                pids = [me, *descendants(me)]
            n += 1
            self.peak = max(self.peak, pss_bytes(pids))
            self._stop.wait(self.interval)

    def reset(self) -> None:
        self.peak = 0

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def reap(timeout: float = 30.0) -> None:
    """Wait for every descendant process to end; kill what outlives
    ``timeout``."""
    me = os.getpid()
    killed = False
    deadline = time.monotonic() + timeout
    while True:
        left = descendants(me)
        if not left:
            return
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)  # collect our own zombies
            except ChildProcessError:
                pass
        if time.monotonic() > deadline:
            if killed:
                return
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 5
        time.sleep(0.1)
