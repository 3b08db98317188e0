"""Host and process-tree readings from /proc (Linux only).

* ``ProcTree`` — CPU seconds (utime+stime plus reaped children) and memory
  of the benchmark's process tree: the driver Python process, the Spark JVM
  it launches, and the PySpark daemons with their forked workers. Forked
  workers share most of their pages with their daemon, so they count by
  proportional set size (PSS); every other process by resident set size.
* ``TreeSampler`` — a background thread that polls the tree's memory and
  keeps the peak seen inside a window.
* ``host_cpu`` / ``busy_fraction`` / ``store_fs`` — audit readings: host
  busy and steal jiffies, recent host load, and the filesystem type under
  the checkpoint store.
"""

from __future__ import annotations

import os
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
WORKER_MARK = b"pyspark.daemon"


def _stat(pid: int) -> tuple[int, list[str]] | None:
    """(ppid, fields after the comm) of one process, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rfind(b")") + 2 :].split()
    return int(rest[1]), [x.decode() for x in rest]


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def _pss_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


class ProcTree:
    """Readings over the descendants of ``root`` (inclusive)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def members(self, memory: bool = False) -> dict[int, list[str]]:
        """Tree processes by pid. With ``memory``, a child caught between
        vfork and exec (it shares its parent's address space, so it reports
        the parent's RSS) is left out, so that memory is not counted twice."""
        stats: dict[int, tuple[int, list[str]]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out: dict[int, list[str]] = {}
        todo = [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                ppid, fields = stats[pid]
                shared = ppid in out and fields[21] == out[ppid][21]
                if not (memory and shared):
                    out[pid] = fields
                todo.extend(children.get(pid, ()))
        return out

    @staticmethod
    def _cpu(fields: list[str]) -> float:
        # utime stime cutime cstime: a worker that exits is reaped by its
        # parent, which then carries its time in cutime/cstime
        return sum(int(fields[i]) for i in (11, 12, 13, 14)) / TICK

    def cpu_s(self, workers_only: bool = False) -> float:
        total = 0.0
        for pid, fields in self.members().items():
            if workers_only and WORKER_MARK not in _cmdline(pid):
                continue
            total += self._cpu(fields)
        return total

    def memory_mb(self) -> dict[str, float]:
        """{"total", "workers", "n_workers"}: resident MB of the tree, the
        Python workers' share of it, and how many workers there are."""
        total = workers = 0
        n = 0
        for pid, fields in self.members(memory=True).items():
            if WORKER_MARK in _cmdline(pid):
                kb = _pss_kb(pid)
                b = kb * 1024 if kb is not None else int(fields[21]) * PAGE
                workers += b
                n += 1
            else:
                b = int(fields[21]) * PAGE
            total += b
        return {"total": total / 2**20, "workers": workers / 2**20, "n_workers": n}


class TreeSampler:
    """Polls the tree's memory every ``interval`` seconds; ``peak()`` returns
    the reading with the largest total since the last ``reset()``."""

    def __init__(self, tree: ProcTree, interval: float = 0.25):
        self.tree = tree
        self.interval = interval
        self._peak = {"total": 0.0}
        self._lock = threading.Lock()  # reset() and the poller both write _peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        m = self.tree.memory_mb()
        with self._lock:
            if m["total"] > self._peak["total"]:
                self._peak = m

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        m = self.tree.memory_mb()
        with self._lock:
            self._peak = m

    def peak(self) -> dict[str, float]:
        self._sample()
        with self._lock:
            return self._peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def host_cpu() -> dict[str, int]:
    """Host-wide jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = vals[:8]
    return {
        "busy": user + nice + system + irq + softirq,
        "idle": idle + iowait,
        "steal": steal,
    }


def busy_fraction(window_s: float = 0.25) -> float:
    """Share of host CPU time that was busy (incl. steal) over a short window."""
    a = host_cpu()
    time.sleep(window_s)
    b = host_cpu()
    busy = (b["busy"] - a["busy"]) + (b["steal"] - a["steal"])
    total = busy + (b["idle"] - a["idle"])
    return busy / total if total else 0.0


def store_fs(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (e.g. ext4, tmpfs)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, fstype = mnt, parts[2]
    return fstype
