"""Process-tree and host readings from ``/proc``.

Every reader returns ``None`` (or an empty result) on a host without
``/proc``, so the benchmark still runs there; ``resource.getrusage``
then stands in for the process-tree figures of this process and its
reaped children.
"""

from __future__ import annotations

import os
import threading
import time


def _sysconf(name: str, default: int) -> int:
    try:
        return os.sysconf(name)
    except (AttributeError, ValueError, OSError):
        return default


_HZ = _sysconf("SC_CLK_TCK", 100)
_PAGE = _sysconf("SC_PAGE_SIZE", 4096)


def proc_available() -> bool:
    return os.path.exists("/proc/self/stat")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; the fields after it start past the last ')'
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[-1]] + rest.split()


def process_table() -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    try:
        pids = [int(p) for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return out
    for pid in pids:
        f = _stat_fields(pid)
        if f is None:
            continue
        # after comm: state=1 ppid=2 ... utime=12 stime=13 cutime=14 cstime=15 rss=22
        ppid = int(f[2])
        cpu = sum(int(x) for x in f[12:16]) / _HZ
        rss = int(f[22]) * _PAGE
        out[pid] = (ppid, f[0], cpu, rss)
    return out


def descendants(table: dict, root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = set(), [root]
    while stack:
        p = stack.pop()
        if p in out:
            continue
        out.add(p)
        stack.extend(kids.get(p, ()))
    return out


def tree_usage(root: int | None = None) -> tuple[float, int, float]:
    """(cpu seconds, rss bytes, worker cpu seconds): the first two summed
    over ``root`` and its descendants, the last over the Python
    processes under the JVM (the Spark Python workers)."""
    root = root or os.getpid()
    table = process_table()
    if not table:
        import resource

        ru = resource.getrusage(resource.RUSAGE_SELF)
        rc = resource.getrusage(resource.RUSAGE_CHILDREN)
        cpu = ru.ru_utime + ru.ru_stime + rc.ru_utime + rc.ru_stime
        return cpu, ru.ru_maxrss * 1024, 0.0
    tree = {p for p in descendants(table, root) if p in table}
    cpu = sum(table[p][2] for p in tree)
    rss = sum(table[p][3] for p in tree)
    workers = 0.0
    for jvm in (p for p in tree if table[p][1] == "java"):
        workers += sum(table[p][2] for p in descendants(table, jvm)
                       if p in table and table[p][1].startswith("python"))
    return cpu, rss, workers


def tree_rss(root: int | None = None) -> dict[int, int]:
    """pid -> rss bytes for ``root`` and its descendants."""
    root = root or os.getpid()
    table = process_table()
    return {p: table[p][3] for p in descendants(table, root) if p in table}


class RssSampler:
    """Samples the process tree's summed RSS on a background thread and
    keeps the peak between ``start`` and ``stop``. A sample counts only
    processes also present in the previous sample: a child that lives for
    milliseconds (a JVM helper between fork and exec shares the JVM's
    pages) would otherwise add the JVM's whole RSS a second time."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._prev: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        cur = tree_rss()
        if not cur:  # no /proc: this process's own high-water mark
            import resource

            cur = {os.getpid(): resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024}
            self._prev = cur
        self.peak = max(self.peak, sum(r for p, r in cur.items() if p in self._prev))
        self._prev = cur

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._prev = tree_rss()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample()
        return self.peak


def cpu_ticks() -> tuple[int, int] | None:
    """(busy, steal) jiffies summed over all cpus, or None without /proc."""
    try:
        with open("/proc/stat") as f:
            p = f.readline().split()
    except OSError:
        return None
    if not p or p[0] != "cpu" or len(p) < 9:
        return None
    busy = sum(int(x) for x in p[1:4]) + int(p[6]) + int(p[7])
    return busy, int(p[8])


def host_cores(t0: tuple[int, int] | None, t1: tuple[int, int] | None,
               seconds: float) -> dict:
    """Busy and steal cores between two ``cpu_ticks`` readings."""
    if t0 is None or t1 is None or seconds <= 0:
        return {}
    return {"busy_cores": (t1[0] - t0[0]) / _HZ / seconds,
            "steal_cores": (t1[1] - t0[1]) / _HZ / seconds}


def mem_total_bytes() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return None


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def wait_children(timeout_s: float = 30.0) -> list[int]:
    """Wait for this process's descendants to exit; kill what is left
    after ``timeout_s``. Returns the pids that had to be killed."""
    import signal

    def live() -> set[int]:
        table = process_table()
        return {p for p in descendants(table, os.getpid()) - {os.getpid()}
                if (_stat_fields(p) or ["", "Z"])[1] != "Z"}

    deadline = time.monotonic() + timeout_s
    while live() and time.monotonic() < deadline:
        time.sleep(0.2)
    killed = []
    for p in live():
        try:
            os.kill(p, signal.SIGKILL)
            killed.append(p)
        except OSError:
            pass
    return killed
