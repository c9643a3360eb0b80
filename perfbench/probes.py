"""Host and process probes read from /proc: the host stamp, the CPU
steal share of a window, the peak memory of this process tree's
Python processes (the Spark Python workers are descendants), and the
wait for every process of the tree to end."""

from __future__ import annotations

import os
import platform
import threading


def cpu_jiffies() -> tuple:
    """(steal, busy, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        p = [int(x) for x in f.readline().split()[1:]]
    idle = p[3] + p[4]
    return p[7], sum(p) - idle, sum(p)


def window_pct(before: tuple, after: tuple) -> dict:
    """Steal as a share of busy jiffies, and busy as a share of all
    jiffies, over the window between two ``cpu_jiffies`` readings."""
    steal, busy, total = (a - b for a, b in zip(after, before))
    return {
        "steal_busy_pct": round(100.0 * steal / max(busy, 1), 2),
        "busy_pct": round(100.0 * busy / max(total, 1), 2),
    }


def host_stamp() -> dict:
    import numpy
    import pyspark

    from uie_pytorch_spark.core import blas_env_vars, preferred_blas_coretype

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "preferred_blas_coretype": preferred_blas_coretype(),
        "openblas_coretype": blas_env_vars().get("OPENBLAS_CORETYPE"),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
    }


def _children() -> dict:
    """pid -> parent pid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> set:
    """Every process under ``root``, ``root`` left out."""
    parents = _children()
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, ppid in parents.items():
            if ppid == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree - {root}


def _alive(pid: int, root: int) -> bool:
    """False once ``pid`` has ended. A child of ``root`` has ended only
    when it is collected: a multi-threaded process (the JVM) reads as a
    zombie while its other threads are still exiting."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
    except OSError:
        return False
    return state not in ("Z", "X") or int(ppid) == root


def _reap_children() -> None:
    """Collect the exit status of ended children, so none stays a zombie."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_tree(root: int, grace_s: float = 15.0) -> None:
    """Wait for every process under ``root`` (this process) to end and
    collect its children: first ``grace_s`` for them to leave on their
    own, then SIGTERM, then SIGKILL. The tree is read before anything
    ends, because a process whose parent ended is moved to another
    parent."""
    import signal
    import time

    seen = descendants(root)
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in seen:
                if _alive(pid, root):
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
        deadline = time.monotonic() + grace_s
        while True:
            seen |= descendants(root)
            done = not any(_alive(pid, root) for pid in seen)
            _reap_children()
            if done:
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared after a fork (the Spark
    Python workers are forked from one daemon) count once in total."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def python_pss_mb(root: int) -> float:
    """Proportional resident memory of the Python processes among
    ``root`` and its descendants (the driver and the Spark Python
    workers), in MB. The JVM is left out: its resident size follows the
    garbage collector's heap sizing, which varied by a third between
    identical runs."""
    tree = descendants(root) | {root}
    return sum(_pss_kb(pid) for pid in tree if _comm(pid) != "java") / 1024.0


class MemSampler:
    """Samples ``python_pss_mb`` of this process tree on a daemon
    thread; ``peak_mb`` is the largest sample since ``start``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, python_pss_mb(os.getpid()))
            self._stop.wait(self.interval_s)

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb
