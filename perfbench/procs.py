"""Process-tree memory sampling and shutdown, read from ``/proc``."""

from __future__ import annotations

import os
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs (``/proc/stat``); 0 where the kernel does not count it."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / _TICK
    except (OSError, IndexError, ValueError):
        return 0.0


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def descendants(root: int) -> list[int]:
    """Live descendants of ``root``, not including it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _resident_bytes(pid: int) -> int:
    """Resident size. Python processes count their proportional share
    (forked workers share most pages with their parent, so a tree's sum
    counts those pages once); the JVM counts plain RSS, because walking
    its large address space for that share takes its memory-map lock and
    stalls it."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            jvm = f.read().strip() == "java"
        if not jvm:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the resident memory of this process and its descendants
    on a background thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_resident_bytes(p) for p in [me, *descendants(me)])
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"  # a zombie has ended


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Poll until none of ``pids`` is alive; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    return alive


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it runs in, and wait until
    every process this program started has ended."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in wait_gone(tree, 30):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    wait_gone(tree, 10)
