"""Host and process-tree probes: CPU seconds and PSS of this process
and all its descendants (driver Python, JVM, Python workers), the
/proc/stat steal and idle shares, load average, a fixed micro-probe
and the box descriptor printed with every run."""

from __future__ import annotations

import os
import platform
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int):
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    # the command name may hold spaces; fields resume after the last ')'
    return data[data.rindex(")") + 2 :].split()


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+sys CPU seconds of the tree, reaped children included (a
    worker that exits is counted through its parent's cutime/cstime)."""
    total = 0
    for pid in process_tree(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_pss_mb(root: int | None = None) -> float:
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class PeakPss:
    """Background sampler of the tree's PSS; ``peak_mb`` after stop()."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.interval)

    def start(self):
        self.peak_mb = tree_pss_mb()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb())
        return self.peak_mb


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    # user nice system idle iowait irq softirq steal ...
    return {
        "idle_share": round((d[3] + d[4]) / total, 4),
        "steal_share": round((d[7] if len(d) > 7 else 0) / total, 4),
    }


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def micro_probe() -> float:
    """A fixed pure-Python workload; its wall tracks host contention."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024 / 1024, 1)
    return 0.0


def _free_gb(path: str) -> float | None:
    try:
        st = os.statvfs(path)
    except OSError:
        return None
    return round(st.f_bavail * st.f_frsize / 2**30, 2)


def _fs_type(path: str) -> str:
    best, kind = "", "?"
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                mnt = parts[1]
                if path.startswith(mnt) and len(mnt) > len(best):
                    best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


def git_commit(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()[:12]
        return ref[:12]
    except OSError:
        return "not-a-git-checkout"


def box_descriptor(root: str, work_dir: str, spark=None) -> dict:
    import pyspark

    java = None
    if spark is not None:
        java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {
        "vcpu": len(os.sched_getaffinity(0)),
        "ram_gb": _mem_total_gb(),
        "tmpfs_free_gb": _free_gb("/dev/shm"),
        "work_fs": _fs_type(os.path.realpath(work_dir)),
        "work_free_gb": _free_gb(work_dir),
        "python": platform.python_version(),
        "java": java,
        "pyspark": pyspark.__version__,
        "commit": git_commit(root),
    }
