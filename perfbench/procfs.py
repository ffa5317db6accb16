"""Readers for ``/proc``: CPU of a process tree, peak RSS, host steal.

CPU is charged to the benchmark's child processes only (the JVM, the
PySpark daemon and its workers), never machine-wide, so other tenants
of the host do not show up in ``cpu_ms_per_doc``.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may contain spaces and parentheses; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _ppid_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    return children


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    children = _ppid_map()
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s(pid: int) -> float:
    """utime+stime+cutime+cstime (the last two: reaped children) of one process."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # after the comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return sum(int(fields[i]) for i in (11, 12, 13, 14)) / _TICK


def alive(pid: int) -> bool:
    return os.path.exists(f"/proc/{pid}")


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError):
        return ""


class SparkTree:
    """The JVM started by PySpark and the Python daemon below it.

    A process that exits mid-job is reaped by its parent, whose
    cutime/cstime then carries its CPU; summing all four fields over the
    live tree therefore never loses or double-counts a process.
    """

    def __init__(self, owner: int):
        self.owner = owner

    def _jvm(self) -> int | None:
        for pid in descendants(self.owner):
            if "org.apache.spark.deploy.SparkSubmit" in cmdline(pid):
                return pid
        return None

    def _daemon(self) -> int | None:
        for pid in descendants(self.owner):
            if "pyspark.daemon" in cmdline(pid):
                parent = _stat_fields(pid)
                # the daemon itself, not a forked worker that shares its cmdline
                if parent is not None and "pyspark.daemon" not in cmdline(int(parent[1])):
                    return pid
        return None

    def workers(self) -> list[int]:
        daemon = self._daemon()
        return [] if daemon is None else descendants(daemon)

    def cpu(self) -> dict[str, float]:
        """CPU seconds: ``total`` tree, ``python`` (daemon subtree), ``jvm`` (rest)."""
        total = sum(cpu_s(p) for p in descendants(self.owner))
        daemon = self._daemon()
        python = 0.0
        if daemon is not None:
            python = cpu_s(daemon) + sum(cpu_s(p) for p in descendants(daemon))
        return {"total": total, "python": python, "jvm": total - python}

    def reset_peaks(self) -> None:
        for pid in self.workers():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except (FileNotFoundError, ProcessLookupError, PermissionError):
                pass

    def worker_peak_mb(self) -> float:
        return sum(peak_rss_mb(p) for p in self.workers())

    def jvm_peak_mb(self) -> float:
        jvm = self._jvm()
        return 0.0 if jvm is None else peak_rss_mb(jvm)


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, for ``host.steal_frac``."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted inside user/nice
    return steal, sum(vals[:8])
