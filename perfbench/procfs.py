"""CPU time and peak memory of a process tree, read from ``/proc``."""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after "(comm)": state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    return stat[stat.rfind(")") + 2 :].split()


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and every live descendant,
    including the reaped children each of them has waited for."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                stats[int(name)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        fields = stats.get(pid)
        if fields is None:
            continue
        total += sum(int(v) for v in fields[11:15])
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


def peak_rss_mb(pid: int) -> float:
    """The process's resident-set high-water mark (``VmHWM``) in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
