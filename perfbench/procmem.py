"""Memory of the benchmark's process tree, and stopping that tree.

Python processes are measured by PSS (proportional set size) because the
PySpark workers are forked from one daemon and share pages with it:
summed RSS would count every shared page once per worker. The JVM shares
no pages with the rest of the tree, so its RSS, read cheaply from
``/proc/<pid>/status``, stands for its PSS; reading its ``smaps_rollup``
walks a multi-gigabyte heap's page tables on every sample.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

SAMPLE_INTERVAL_S = 1.0
STOP_TIMEOUT_S = 60.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue                      # exited between listdir and open
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _field_kb(path: str, field: bytes) -> int:
    try:
        with open(path, "rb") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass                        # the process has exited
    return 0


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return "other"
    if b"pyspark.daemon" in cmd:
        return "py_workers"
    return "jvm" if b"java" in cmd.split(b"\0", 1)[0] else "other"


class PssSampler:
    """Samples the memory of ``root`` and its descendants on a thread.

    ``peak_python_mb`` is the peak of the summed PSS of the Python
    processes: the driver ``root`` and the PySpark daemon with the workers
    it forks, which each unpickle the broadcast KB. ``peak_by_kind_mb``
    holds the peak of each kind on its own (``driver``, ``py_workers``,
    ``jvm``, ``other``).
    """

    def __init__(self, root: int):
        self.root = root
        self.peak_python_mb = 0.0
        self.peak_by_kind_mb: dict[str, float] = {}
        self.n_samples = 0
        self.sample_cpu_s = 0.0   # CPU time spent sampling, to show its cost
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="pss-sampler")

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        if not self._thread.is_alive():
            return
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("PSS sampler thread did not stop")

    def sample(self) -> None:
        t0 = time.thread_time()
        by_kind: dict[str, float] = {}
        for pid in [self.root, *descendants(self.root)]:
            kind = _kind(pid, self.root)
            kb = (_field_kb(f"/proc/{pid}/smaps_rollup", b"Pss:")
                  if kind in ("driver", "py_workers")
                  else _field_kb(f"/proc/{pid}/status", b"VmRSS:"))
            by_kind[kind] = by_kind.get(kind, 0.0) + kb / 1024
        self.peak_python_mb = max(
            self.peak_python_mb,
            by_kind.get("driver", 0.0) + by_kind.get("py_workers", 0.0))
        for kind, mb in by_kind.items():
            self.peak_by_kind_mb[kind] = max(
                self.peak_by_kind_mb.get(kind, 0.0), mb)
        self.n_samples += 1
        self.sample_cpu_s += time.thread_time() - t0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(SAMPLE_INTERVAL_S)


def stop_spark(spark) -> None:
    """Stop the session, end its JVM and wait until every process it
    started has exited; stragglers are killed after STOP_TIMEOUT_S."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    alive = started
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _reap()


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return True
    return stat[stat.rindex(b")") + 2:].split()[0] == b"Z"


def _reap() -> None:
    """Collect exit status of any direct child that already ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
