"""Process-tree memory sampling, CPU counters, and teardown.

Everything here reads ``/proc`` or ``/sys/fs/cgroup`` of the benchmark's own
process tree: the Python driver, the Spark JVM it launches and the pyspark
worker daemons under that JVM.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
CPUACCT_ROOT = "/sys/fs/cgroup/cpuacct"


def descendants(pid: int) -> list[int]:
    """``pid``'s live descendants, from one scan of ``/proc``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_bytes(pid: int) -> int:
    """Summed proportional set size of ``pid`` and its descendants. A page
    shared by n processes counts 1/n in each, so the copy-on-write pages
    forked pyspark workers share with their daemon count once, however many
    workers are alive."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


def own_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid``'s own threads (not its children), or 0.0 once
    it has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / _HZ
    except (OSError, IndexError, ValueError):
        return 0.0


def host_cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the whole machine since boot, from the
    first line of ``/proc/stat``; the stolen share of a difference tells
    how much of an interval the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


class PeakMemory:
    """Samples this process tree's summed PSS (``tree_pss_bytes``) on a
    daemon thread; ``peak`` is the largest sample seen and ``cpu_s`` the
    sampling thread's own CPU time. Use as a context manager."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class CpuacctGroup:
    """A child cgroup under the cpuacct hierarchy holding this process and
    everything it starts afterwards, so ``usage_s()`` is the kernel's own
    CPU total for the tree. ``available`` is False where the hierarchy is
    absent or not writable; callers then record no cgroup reading."""

    def __init__(self, name: str):
        self.path = os.path.join(CPUACCT_ROOT, name)
        self.available = False
        try:
            os.mkdir(self.path)
            with open(os.path.join(self.path, "cgroup.procs"), "w") as f:
                f.write(str(os.getpid()))
            self.available = True
        except OSError:
            self._remove()

    def usage_s(self) -> float:
        with open(os.path.join(self.path, "cpuacct.usage")) as f:
            return int(f.read()) / 1e9

    def close(self) -> None:
        """Move this process back to the root group and remove the child;
        call after every other member process has exited."""
        if self.available:
            try:
                with open(os.path.join(CPUACCT_ROOT, "cgroup.procs"), "w") as f:
                    f.write(str(os.getpid()))
            except OSError:
                pass
        self._remove()

    def _remove(self) -> None:
        try:
            os.rmdir(self.path)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_tree(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` and every descendant of this
    process has ended (an orphaned worker that was re-parented away is still
    waited for by pid); after ``timeout_s`` kill the rest and wait for them
    too."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s

    def pending() -> list[int]:
        _reap()
        return [p for p in set(pids) | set(descendants(me)) if _alive(p)]

    while pending() and time.monotonic() < deadline:
        time.sleep(0.2)
    for p in pending():
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while pending():
        time.sleep(0.1)


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass
