"""Host-side measurements and process control read from /proc: CPU
steal and idle share of a time window, the peak memory (PSS) of the
Spark driver JVM plus its Python workers, and the shutdown of that JVM
and every process below it."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and idle percentages of the CPU time between two samples."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta) or 1
    idle = delta[3] + (delta[4] if len(delta) > 4 else 0)
    steal = delta[7] if len(delta) > 7 else 0
    return {"steal_pct": round(100.0 * steal / total, 2),
            "idle_pct": round(100.0 * idle / total, 2)}


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command name) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        out[int(name)] = (int(stat[stat.rindex(")") + 2:].split()[1]), comm)
    return out


def _subtree(procs: dict[int, tuple[int, str]], roots: list[int]) -> list[int]:
    """``roots`` and every process below them."""
    children: dict[int, list[int]] = {}
    for p, (pp, _) in procs.items():
        children.setdefault(pp, []).append(p)
    out, todo = [], list(roots)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _start_time(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks (tells a reused pid apart),
    or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return int(stat[stat.rindex(")") + 2:].split()[19])


def _pss(pid: int) -> int:
    """Proportional set size in bytes: pages shared between the forked
    Python workers count once in the sum, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemSampler:
    """Samples, every ``interval`` seconds, the summed PSS of the JVM
    this process launched and every process below it (the Python
    workers), and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.jvm_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        procs = _processes()
        me = os.getpid()
        roots = [p for p, (pp, comm) in procs.items()
                 if pp == me and comm == "java"]
        total = 0
        for p in _subtree(procs, roots):
            mem = _pss(p)
            total += mem
            if p in roots:
                self.jvm_peak = max(self.jvm_peak, mem)
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_spark(timeout: float = 30.0) -> None:
    """Stop the Spark context, then the JVM this process launched, and
    wait until the JVM and every process below it (the Python workers)
    have ended. Without this the JVM only notices at interpreter exit
    that its stdin closed and outlives the benchmark by seconds."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # the JVM may be gone already
            pass
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    tree = {p: _start_time(p) for p in _subtree(_processes(), [os.getpid()])
            if p != os.getpid()}
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        # the JVM's gateway server exits when its stdin reaches EOF
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the Python worker daemons exit on their own once the JVM is gone;
    # they are not this process's children, so poll /proc for them
    left = _wait_gone(tree, timeout)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    _wait_gone(tree, timeout)


def _wait_gone(tree: dict[int, int | None], timeout: float) -> list[int]:
    """Wait until no pid of ``tree`` (pid -> start time) still runs the
    process it named, for at most ``timeout`` seconds; returns those
    that still do."""
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p, t in tree.items()
                if t is not None and _start_time(p) == t]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.05)
