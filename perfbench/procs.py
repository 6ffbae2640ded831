"""Peak summed RSS of this process and all its descendants (the JVM and
the Python workers), sampled from ``/proc``, and the peak of the JVM
heap occupancy after garbage collection, sampled through the JVM's
memory-pool MXBeans."""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _descendants(root: int) -> dict[int, int]:
    """{pid: parent pid} of every descendant of ``root``."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        parent[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    tree: dict[int, int] = {}
    frontier = [root]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        p = frontier.pop()
        for c in children.get(p, ()):
            if c not in tree:
                tree[c] = p
                frontier.append(c)
    return tree


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _tree_rss_bytes(root: int) -> int:
    total = 0
    for pid, ppid in [(root, None), *_descendants(root).items()]:
        # a java child of the JVM is a vfork about to exec a helper (the
        # JVM spawns chmod for every local file write); until it execs it
        # shares the JVM's memory, and counting it would double the JVM
        exe = _exe(pid)
        if ppid is not None and exe and os.path.basename(exe) == "java" and exe == _exe(ppid):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


def jvm_heap_after_gc(spark):
    """A function giving the JVM's heap occupancy after its most recent
    garbage collection, summed over the heap pools, in bytes: the live
    heap, whatever size the JVM has grown its heap to."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]

    def sample() -> int:
        return sum(u.getUsed() for u in (p.getCollectionUsage() for p in pools) if u is not None)

    return sample


class RssSampler:
    """Samples the process tree, and ``heap_fn`` once it is set, every
    ``interval`` seconds until stopped."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.heap_peak = 0
        self.samples = 0
        self.heap_fn = None
        self._error: BaseException | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        try:
            while not self._stop.is_set():
                self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
                if self.heap_fn is not None:
                    self.heap_peak = max(self.heap_peak, self.heap_fn())
                self.samples += 1
                self._stop.wait(self.interval)
        except BaseException as e:  # re-raised on exit: a gap must not pass as a low peak
            self._error = e

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        if self._error is not None and exc[0] is None:
            raise RuntimeError("memory sampler failed") from self._error


def wait_children(timeout: float) -> None:
    """Wait for every descendant process to end; kill what outlives
    ``timeout`` and reap it."""
    deadline = time.monotonic() + timeout
    while True:
        alive = _descendants(os.getpid())
        for pid in alive:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        alive = _descendants(os.getpid())
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)
