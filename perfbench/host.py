"""Host shape, preflight and process-tree accounting from /proc."""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) // 1024


def shape() -> dict:
    """The host shape records are keyed on: records of different shapes
    are never compared (see compare.py)."""
    return {"nproc": os.cpu_count(), "mem_total_gb": round(mem_total_mb() / 1024)}


def stamp(root: str) -> dict:
    import pyarrow
    import pyspark

    commit = ""
    if os.path.isdir(os.path.join(root, ".git")):  # a source export has no .git
        try:
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
            ).stdout.strip()
        except OSError:
            pass
    return {
        "host": shape(),
        "commit": commit or "unknown",
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def preflight(work: str, need_ram_mb: int, need_disk_mb: int) -> str | None:
    """Reason the workload cannot run here, or None.  Checked before
    anything starts, so a small host fails with a message, not an OOM."""
    avail = mem_available_mb()
    if avail < need_ram_mb:
        return f"needs {need_ram_mb} MB of available RAM, host has {avail} MB"
    os.makedirs(work, exist_ok=True)
    free = shutil.disk_usage(work).free // (1 << 20)
    if free < need_disk_mb:
        return f"needs {need_disk_mb} MB of free disk under {work}, has {free} MB"
    return None


# ------------------------------------------------------------ /proc tree


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # exited between listing and reading
        return None
    return s[s.rindex(")") + 2 :].split()


def tree(root: int) -> list[list[str]]:
    """/proc/<pid>/stat fields (from field 3 on) of ``root`` and all of
    its live descendants: this process, the Spark JVM, the Python worker
    daemon and its workers."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, []))
    return out


def usage(root: int) -> dict:
    """CPU seconds and minor faults of the process tree so far.  Each live
    process adds its own and its reaped children's counts, so workers
    that exited are still counted."""
    user = sys_ = faults = 0
    for st in tree(root):
        # fields from 3: minflt=10 cminflt=11 utime=14 stime=15 cutime=16 cstime=17
        faults += int(st[7]) + int(st[8])
        user += int(st[11]) + int(st[13])
        sys_ += int(st[12]) + int(st[14])
    return {"user_s": user / _TICK, "sys_s": sys_ / _TICK, "minor_faults": faults}


def rss_mb(root: int) -> float:
    return sum(int(st[21]) for st in tree(root)) * _PAGE / (1 << 20)


class RssSampler:
    """Peak resident set of the process tree, sampled by one thread."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root, self.interval_s, self.peak_mb = root, interval_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def __exit__(self, *exc) -> None:
        self.stop()


def wait_children(timeout_s: float = 30.0) -> bool:
    """Wait until every descendant (the JVM and, under it, the Python
    workers) has exited; True if they all did."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if len(tree(os.getpid())) <= 1:
            return True
        time.sleep(0.1)
    return False
