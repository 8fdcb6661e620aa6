"""Process-tree helpers: peak memory of the whole tree, the CPU control
reading, and shutting down every process the run started."""

from __future__ import annotations

import os
import signal
import threading
import time

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_pss_mb(root: int) -> float:
    """Proportional set size of ``root`` and its descendants: pages shared
    between the forked Python workers count once in total, not once per
    worker."""
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class PeakPss:
    """Samples the summed PSS of this process and all its descendants (the
    JVM and the Python workers) every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-pss", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(root))
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakPss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_control() -> float:
    """Seconds for a fixed single-thread numpy workload: read before and
    after each run to annotate how busy the machine was. Not a metric."""
    import numpy as np

    a = np.fromfunction(lambda i, j: ((i * 37 + j * 11) % 101) / 101.0, (384, 384))
    t0 = time.perf_counter()
    x = a
    for _ in range(24):
        x = (x @ a) % 1.0
    if x.shape != a.shape:
        raise RuntimeError("control workload produced a wrong shape")
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for
    both; anything still left under this process is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure here ends in kill
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    reap_children()


def reap_children(timeout: float = 10.0) -> None:
    """TERM, then after ``timeout`` KILL, every descendant; gives up
    ``timeout`` seconds after the KILLs start."""
    deadline = time.time() + timeout
    while time.time() < deadline + timeout:
        left = descendants(os.getpid())
        if not left:
            return
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
