"""Host facts, process-tree memory sampling and process shutdown."""

from __future__ import annotations

import os
import threading
import time


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def process_start_time() -> float:
    """Epoch seconds at which this process started, from /proc.

    The process age is taken against the boot clock, not against
    /proc/stat's ``btime``, which is truncated to whole seconds."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # fields[0] is field 3 (state); starttime is field 22, in clock ticks
    # since boot
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - started
    return time.time() - age


def versions() -> dict[str, str]:
    import duckdb
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # process exited while listing
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler:
    """Samples the RSS of this process's tree (this Python process, the JVM and
    the Python workers it forks) and keeps the peak."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _descendants(root: int) -> set[int]:
    kids, out, todo = _children(), set(), [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, end the JVM gateway process and every process it
    started (the Python worker daemon and its workers), and wait for all."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    procs = _descendants(os.getpid())
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    while True:
        alive = {p for p in procs if _running(p)}
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)
