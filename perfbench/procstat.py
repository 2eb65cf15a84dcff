"""CPU and memory sampling over this process's tree, read from /proc.

The benchmark's process starts the Spark JVM, and the JVM starts the
Python worker daemon, which forks the workers.  CPU time of the whole
tree is ``utime + stime + cutime + cstime`` summed over the live
processes: a worker that exited and was reaped still counts, through
its parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
from typing import Dict, Tuple

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> Tuple[int, int]:
    """(ppid, cpu ticks incl. reaped children) of one pid."""
    with open("/proc/%d/stat" % pid, "rb") as fh:
        raw = fh.read().decode("ascii", "replace")
    # the command name may hold spaces and parentheses: split after
    # the LAST ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks


def process_tree(root: int | None = None) -> Dict[int, int]:
    """pid → cpu ticks for ``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    parents: Dict[int, int] = {}
    ticks: Dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            ppid, t = _stat(pid)
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue  # exited while we listed
        parents[pid] = ppid
        ticks[pid] = t
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return {pid: ticks[pid] for pid in tree if pid in ticks}


def cpu_seconds(root: int | None = None) -> float:
    """CPU-seconds used so far by the tree under ``root``."""
    return sum(process_tree(root).values()) / _TICKS


def _cmdline(pid: int) -> str:
    try:
        with open("/proc/%d/cmdline" % pid, "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except FileNotFoundError:
        return ""


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open("/proc/%d/status" % pid) as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def worker_peak_rss_mb(root: int | None = None) -> float:
    """Largest peak resident set (VmHWM) over the tree's Python
    worker processes: the pyspark daemon and the workers it forks."""
    best = 0
    for pid in process_tree(root):
        # workers are forked from the daemon and keep its command line
        if "pyspark.daemon" in _cmdline(pid):
            best = max(best, _vm_hwm_kb(pid))
    return best / 1024.0
