"""Process and host counters read from /proc, plus the host stamp.

CPU is split three ways: the Spark JVM, this Python driver process and the
Python workers (every live descendant of the JVM, plus the children the JVM
has already reaped). Memory is VmHWM, the peak resident set of a process.
"""

from __future__ import annotations

import os
import platform
import subprocess

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # comm may hold spaces; everything after the last ')' is space-separated
    return raw[raw.rindex(")") + 2:].split()


def _ppid_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(_stat_fields(int(name))[1])
            except (OSError, ValueError, IndexError):
                continue  # exited while listing
            kids.setdefault(ppid, []).append(int(name))
    return kids


def cpu_s(pid: int) -> tuple[float, float]:
    """(own utime+stime, reaped children's cutime+cstime) of ``pid``, seconds."""
    f = _stat_fields(pid)
    # fields after ')' start at field 3 (state): utime is field 14 -> index 11
    own = (int(f[11]) + int(f[12])) / _TICK
    reaped = (int(f[13]) + int(f[14])) / _TICK
    return own, reaped


def descendants(pid: int) -> list[int]:
    kids = _ppid_map()
    seen, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(kids.get(p, []))
    return seen


def cpu_split(jvm_pid: int) -> dict[str, float]:
    """Cumulative CPU seconds of the JVM, this process and the Python workers."""
    jvm_own, jvm_reaped = cpu_s(jvm_pid)
    me_own, _ = cpu_s(os.getpid())
    workers = jvm_reaped
    for p in descendants(jvm_pid):
        try:
            own, reaped = cpu_s(p)
        except OSError:
            continue  # exited between listing and reading
        workers += own + reaped
    return {"jvm": jvm_own, "pydriver": me_own, "pyworker": workers}


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    vals = [int(x) for x in f[1:9]]
    return vals[7], sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError("no MemTotal in /proc/meminfo")


def git_head(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=root,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def host_stamp(root: str, source_digest: str) -> dict:
    """Where a run ran. ``source_digest`` identifies the sources in a
    checkout that is not a git repository."""
    return {
        "git_head": git_head(root),
        "source_digest": source_digest[:16],
        "nproc": os.cpu_count(),
        "mem_total_mb": round(mem_total_mb()),
        "kernel": platform.release(),
        "python": platform.python_version(),
    }
