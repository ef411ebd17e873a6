"""Host-side readings taken outside the engine: process-tree CPU and RSS from
``/proc``, the load average, and a fixed CPU probe for stamping host noise."""

from __future__ import annotations

import hashlib
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'.
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields is not None:
                parent[int(entry)] = int(fields[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree.extend(frontier)
    return tree


def tree_cpu_s(pids: list[int]) -> float:
    """utime+stime of the processes plus what their reaped children used, so
    a worker that exits between two readings keeps its CPU in the total."""
    total = 0
    for pid in pids:
        fields = _stat(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def rss_mb(pids: list[int]) -> float:
    """Sum of the processes' resident set sizes."""
    total = 0
    for pid in pids:
        fields = _stat(pid)
        if fields is not None:
            total += int(fields[21])
    return total * _PAGE / 2**20


class RssSampler:
    """Samples the RSS of this process and all its descendants (the JVM and
    the Python workers) every ``interval`` seconds on a daemon thread;
    ``stop()`` returns the highest total seen, in MB."""

    def __init__(self, interval: float = 0.2):
        import threading

        self.peak = 0.0
        self._done = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._done.wait(self._interval):
            self.peak = max(self.peak, rss_mb(process_tree(me)))

    def stop(self) -> float:
        self._done.set()
        self._thread.join()
        return self.peak


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(_stat(os.getpid())[19]) / _TICK


def cpu_s() -> tuple[float, float]:
    """CPU seconds of (this process and all its descendants, the Python
    workers alone); the workers are the descendants of the JVM."""
    tree = process_tree(os.getpid())
    workers = [p for j in tree if _comm(j) == "java" for p in process_tree(j)[1:]]
    return tree_cpu_s(tree), tree_cpu_s(workers)


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until none of ``pids`` is alive; SIGKILL whatever outlives ``timeout``."""
    import signal

    deadline = time.time() + timeout
    while True:
        alive = [p for p in pids if _stat(p) is not None and _stat(p)[0] != "Z"]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.05)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_probe_s(reps: int = 2) -> float:
    """Fixed CPU probe that depends on neither the engine nor Spark: a sha256
    fold (the reduction bench.py's host probe runs, here in-process over
    200k rounds). Minimum of ``reps`` timings, in seconds."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        h = b""
        for i in range(200_000):
            h = hashlib.sha256(h + i.to_bytes(4, "little")).digest()
        best = min(best, time.perf_counter() - t0)
    return best


def stamp(label: str) -> dict:
    return {
        "when": label,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": loadavg_1m(),
        "cpu_probe_s": round(cpu_probe_s(), 4),
    }
