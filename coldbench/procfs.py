"""Process-tree CPU and memory, and host steal time, from /proc.

Every figure here is read from outside the program: the benchmark's own
process, the JVM it launches and the Python workers the JVM forks. CPU
counts user + system time including reaped children, so work done by a
worker that exited is charged to its parent in the tree, never lost.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
GROUPS = ("python", "jvm", "workers")


def _stat(pid: int):
    """(comm, ppid, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
    return comm, int(f[1]), cpu


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _peak_rss_bytes(pid: int) -> int:
    """The kernel's resident high-water mark (VmHWM) of one process."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree(root: int) -> dict[int, str]:
    """pid -> group ('python' for `root`, 'jvm' for the java process and
    anything else between, 'workers' for everything under the JVM)."""
    parent, comm = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                comm[int(name)], parent[int(name)] = st[0], st[1]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out = {root: "python"}
    stack = [(c, False) for c in children.get(root, [])]
    while stack:
        pid, under_jvm = stack.pop()
        out[pid] = "workers" if under_jvm else "jvm"
        below = under_jvm or comm.get(pid) == "java"
        stack.extend((c, below) for c in children.get(pid, []))
    return out


def cpu_seconds(root: int) -> dict[str, float]:
    """CPU seconds per group for the tree under `root`, right now."""
    out = dict.fromkeys(GROUPS, 0.0)
    for pid, group in tree(root).items():
        st = _stat(pid)
        if st is not None:
            out[group] += st[2]
    return out


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return f[7], sum(f[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


class RssSampler:
    """Peak resident memory of the tree under `root`, polled every
    `period` seconds on a daemon thread. The workload process and the
    JVM live for the whole run, so their peaks are the kernel's exact
    high-water marks (VmHWM). Python workers come and go, so theirs is
    the largest sum of their current RSS seen at one poll. `peaks` maps
    each group to bytes."""

    def __init__(self, root: int, period: float = 0.5):
        self.root, self.period = root, period
        self.peaks = dict.fromkeys(GROUPS, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        while not self._stop.wait(self.period):
            now = dict.fromkeys(GROUPS, 0)
            for pid, group in tree(self.root).items():
                if group == "workers":
                    now[group] += _rss_bytes(pid)
                else:
                    now[group] = max(now[group], _peak_rss_bytes(pid))
            for g, v in now.items():
                self.peaks[g] = max(self.peaks[g], v)
