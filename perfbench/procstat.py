"""Process-tree CPU time and peak memory from /proc, the host-speed probe
and the environment stamp. psutil is not a dependency, so /proc is read directly."""

from __future__ import annotations

import datetime
import hashlib
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str):
    """(ppid, cpu seconds incl. reaped children) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(b")") + 2:].split()
    # fields after the command: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    return int(f[1]), sum(int(x) for x in f[11:15]) / _TICK


def _tree(root: int) -> dict[int, tuple[int, float]]:
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                procs[int(pid)] = st
    keep, frontier = {}, [root]
    while frontier:
        p = frontier.pop()
        if p in procs and p not in keep:
            keep[p] = procs[p]
            frontier.extend(c for c, (pp, _) in procs.items() if pp == p)
    return keep


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant (the
    JVM and the Python workers). Workers that already exited
    are counted in their reaping parent's cutime/cstime."""
    return sum(cpu for _, cpu in _tree(os.getpid()).values())


def _hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:")) / 1024
    except (OSError, StopIteration):
        return 0.0


def peak_rss_mb() -> tuple[float, float]:
    """(driver + JVM, largest Python worker) peak resident sets (VmHWM),
    in MB. The kernel tracks each process's peak, so no sampling interval
    decides what is seen. This Python process and its child JVM live for
    the whole run; Python workers are forked on demand and vary in number."""
    me = os.getpid()
    tree = _tree(me)
    top = [p for p, (pp, _) in tree.items() if p == me or pp == me]
    workers = [p for p in tree if p not in top]
    return sum(_hwm_mb(p) for p in top), max((_hwm_mb(p) for p in workers), default=0.0)


def host_probe_s() -> float:
    """A fixed single-core workload (integer loop + small matmul), median
    of three. Reported beside the metrics, never folded into them, so a
    slow host shows as a slow probe."""
    import numpy as np

    a = np.random.RandomState(0).rand(200, 200)
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        for _ in range(20):
            a = a @ a
            a /= np.abs(a).max()
        times.append(time.perf_counter() - t)
    return sorted(times)[1]


def source_digest(root: str) -> str:
    """Commit stamp: the git HEAD when the tree is a checkout, else a
    digest of the engine's sources (the benchmark may run from an export
    that is not a git repository)."""
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(root, ".git", ref[5:])
            if os.path.exists(p):
                return open(p).read().strip()
        else:
            return ref
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(root, "shapely_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:16]


def stamp(root: str, nproc: int) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": nproc,
        "ram_gb": round(mem_kb / 2**20, 1),
        "date": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "commit": source_digest(root),
    }
