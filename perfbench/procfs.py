"""Box state and process-tree memory, read straight from ``/proc``."""

from __future__ import annotations

import os
import threading


def parse_cpu_steal(stat_text: str) -> int:
    """Steal ticks from the aggregate ``cpu`` line of ``/proc/stat``.

    Fields after the label: user nice system idle iowait irq softirq steal
    ... Kernels before 2.6.11 have no steal field; that reads as 0.
    """
    for line in stat_text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            return int(parts[8]) if len(parts) > 8 else 0
    raise ValueError("no aggregate cpu line in /proc/stat text")


def steal_delta(before: str, after: str) -> int:
    """Steal ticks that passed between two ``/proc/stat`` snapshots."""
    return parse_cpu_steal(after) - parse_cpu_steal(before)


def read_proc_stat() -> str:
    with open("/proc/stat") as f:
        return f.read()


def load1() -> float:
    return os.getloadavg()[0]


def _ppid_and_rss(pid: int) -> tuple[int, int, str] | None:
    """(parent pid, resident bytes, command name) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may itself hold spaces
    name = stat[stat.index("(") + 1:stat.rindex(")")]
    fields = stat[stat.rindex(")") + 2:].split()
    # fields[0] is state, so field n of proc(5) is fields[n - 3]
    return int(fields[1]), int(fields[21]) * os.sysconf("SC_PAGE_SIZE"), name


def _processes() -> dict[int, tuple[int, int, str]]:
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            info = _ppid_and_rss(int(entry))
            if info is not None:
                procs[int(entry)] = info
    return procs


def _tree(root: int, procs: dict) -> list[int]:
    """``root`` and every descendant of it, root first."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _rss, _name) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (not ``root`` itself)."""
    procs = _processes()
    return [p for p in _tree(root, procs)[1:] if p in procs]


def tree_rss(root: int) -> dict[str, float]:
    """Resident MiB of ``root`` and all its descendants, split by kind."""
    procs = _processes()
    out = {"total": 0.0, "jvm": 0.0, "py_workers": 0.0, "main": 0.0}
    for pid in _tree(root, procs):
        if pid not in procs:
            continue
        _ppid, rss, name = procs[pid]
        mib = rss / 2**20
        out["total"] += mib
        if pid == root:
            out["main"] += mib
        elif name == "java":
            out["jvm"] += mib
        else:
            out["py_workers"] += mib
    return out


class RssSampler:
    """Background thread keeping the peak of :func:`tree_rss` per kind."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = {"total": 0.0, "jvm": 0.0, "py_workers": 0.0, "main": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            for k, v in tree_rss(root).items():
                self.peak[k] = max(self.peak[k], v)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def box_state() -> dict:
    """The box-state fields recorded at the start of every run."""
    return {
        "nproc": os.cpu_count(),
        "load1": load1(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
    }
