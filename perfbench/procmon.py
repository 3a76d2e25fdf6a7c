"""Outside-in observation: process-tree RSS from /proc, host sentinel."""

from __future__ import annotations

import hashlib
import os
import signal
import threading
import time
from typing import Dict, Iterable, List

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name is parenthesised and may hold spaces
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> List[int]:
    """Every process below `root` (not root itself)."""
    kids = _children()
    todo, out = list(kids.get(root, [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants_rss(root: int) -> int:
    """Resident bytes of every process below `root` (not root itself)."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def _running(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_all(pids: Iterable[int], grace_s: float = 10.0) -> None:
    """SIGTERM every process of `pids` that still runs, SIGKILL those left
    after `grace_s`, and return once each one has ended."""
    pids = set(pids)
    deadline = time.monotonic() + grace_s
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:  # already gone
                pass
        while True:
            # reap our own children, so they do not linger as zombies
            for pid in pids:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            pids = {p for p in pids if _running(p)}
            if not pids or (sig == signal.SIGTERM
                            and time.monotonic() > deadline):
                break
            time.sleep(0.05)
        if not pids:
            return


class PeakRss:
    """Samples the RSS of this process's descendants (the Spark JVM and
    its Python workers) on a thread until stopped."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = descendants_rss(os.getpid())
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval_s)

    def take(self) -> int:
        """Peak bytes since the previous call."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_jiffies() -> List[int]:
    """(total, steal) CPU jiffies of the host since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return [sum(f), f[7] if len(f) > 7 else 0]


def steal_share(start: List[int]) -> float:
    """Share of CPU time the hypervisor took from this VM since `start`."""
    total, steal = (b - a for a, b in zip(start, cpu_jiffies()))
    return steal / total if total else 0.0


def host_sentinel() -> Dict[str, float]:
    """Core count, load, and two fixed probes (bench.py's md5 loop at a
    quarter of its length, and two small BLAS matmuls), so a run made in a
    noisy window on a shared host can be told apart."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    t0 = time.perf_counter()
    x = b"x" * 1000
    for _ in range(50_000):
        x = hashlib.md5(x).digest() * 62 + b"xx"
    md5_s = time.perf_counter() - t0
    import numpy as np

    a = np.random.RandomState(0).rand(800, 800)
    t0 = time.perf_counter()
    for _ in range(2):
        a @ a
    return {"nproc": len(os.sched_getaffinity(0)), "load1": load1,
            "md5_50k_s": md5_s, "matmul_800x2_s": time.perf_counter() - t0}
