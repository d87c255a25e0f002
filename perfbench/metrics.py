"""Pure helpers the benchmark computes its figures with, plus the
``/proc`` readers for CPU time and resident memory.

Kept free of Spark so ``perfbench/tests`` can pin them directly.
"""

from __future__ import annotations

import math
import os
import statistics

# Percentiles a timing may report, highest first.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def supported_percentile(n: int, min_tail: int = 10) -> float | None:
    """The highest percentile in :data:`PERCENTILES` with at least
    ``min_tail`` of ``n`` samples beyond it, or None if none has."""
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= min_tail - 1e-9:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def timing_summary(values: list[float]) -> dict:
    """Median, sample count and the highest supported percentile."""
    out = {"median": statistics.median(values), "n": len(values), "p": None, "p_value": None}
    p = supported_percentile(len(values))
    if p is not None:
        out["p"] = p
        out["p_value"] = percentile(values, p)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total = 0.0
    end = lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)


def write_amp(bytes_written: int, update_bytes: int) -> float:
    """Bytes written to the store per byte of update data."""
    if update_bytes <= 0:
        raise ValueError("write_amp needs update bytes")
    return bytes_written / update_bytes


def space_amp(store_bytes: int, compact_bytes: int) -> float:
    """On-disk store bytes per byte of a fresh compact copy of its rows."""
    if compact_bytes <= 0:
        raise ValueError("space_amp needs a compact size")
    return store_bytes / compact_bytes


# ------------------------------------------------------------- files
def file_state(root: str) -> dict[str, tuple[int, int, int]]:
    """``{path: (inode, mtime_ns, size)}`` of regular files under root
    (symlinks are pointers, not data, and are skipped)."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            if not os.path.islink(p):
                out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files in ``after`` that are new or changed."""
    nbytes = nfiles = 0
    for p, st in after.items():
        if before.get(p) != st:
            nbytes += st[2]
            nfiles += 1
    return nbytes, nfiles


def tree_bytes(root: str) -> int:
    return sum(st[2] for st in file_state(root).values())


# -------------------------------------------------------------- /proc
_CLK = os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of ``pids`` including their reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (stat field 3): utime..cstime are 14..17
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def vm_hwm_mb(pids: list[int]) -> float:
    """Summed peak resident set (VmHWM) of ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
