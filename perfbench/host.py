"""Host facts and process-tree memory, read from /proc."""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")
RSS_PERIOD_S = 0.1


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise KeyError("MemTotal")


def probe() -> dict:
    """nproc, MemTotal, load average and cumulative steal ticks."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"nproc": nproc(), "mem_total_mb": mem_total_kb() // 1024,
            "loadavg": load, "steal_ticks": int(cpu[8])}


def driver_memory() -> str:
    """A driver heap that fits the host: an eighth of MemTotal, 1-2 GB
    (the engine's own default is 48g). A heap the runs fill keeps the
    peak resident memory from swinging with the collector's sizing."""
    gb = max(1, min(2, mem_total_kb() // (8 * 1024 * 1024)))
    return f"{gb}g"


def process_start_s() -> float:
    """Seconds since this process started (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / TICK


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * PAGE
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total


def wait_for_children(timeout: float) -> None:
    """Wait until this process has no child processes left."""
    me = str(os.getpid())
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = []
        for d in os.listdir("/proc"):
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            if fields[1] == me and fields[0] != "Z":
                alive.append(d)
        if not alive:
            return
        time.sleep(0.1)
    raise TimeoutError(f"child processes still running: {alive}")


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled every ``RSS_PERIOD_S`` seconds."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
