"""CPU and resident memory of the driver, the JVM and the Python workers,
read from ``/proc`` with the standard library.

Roles, found by walking the process tree under the driver:

- ``driver``: the benchmark's own Python process (the Spark driver);
- ``jvm``: the ``java`` child that pyspark launched;
- ``pyworker``: every process under the JVM (pyspark's daemon and the
  workers it forks).

Processes listed in ``exclude`` (the loopback COPY server) are skipped
with their subtrees. CPU per role counts a process's own user+system time
plus that of children it has reaped, so a worker that exits between two
snapshots still counts once, through its parent.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
ROLES = ("driver", "jvm", "pyworker")


def _read_all() -> dict[int, tuple[int, str, float, float, int]]:
    """pid -> (ppid, comm, own cpu s, reaped-children cpu s, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while listing
        head, rest = raw.rsplit(")", 1)
        comm = head.split("(", 1)[1]
        v = rest.split()
        # v[0] is field 3 (state) of proc(5)
        own = (int(v[11]) + int(v[12])) / _TICK
        reaped = (int(v[13]) + int(v[14])) / _TICK
        out[int(name)] = (int(v[1]), comm, own, reaped, int(v[21]) * _PAGE)
    return out


def classify(root: int, exclude: set[int] | None = None, procs=None) -> dict[int, str]:
    """pid -> role for every live process under ``root`` (inclusive)."""
    procs = procs if procs is not None else _read_all()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    roles = {root: "driver"}
    stack = [root]
    exclude = exclude or set()
    while stack:
        pid = stack.pop()
        for k in kids.get(pid, []):
            if k in exclude:
                continue
            if roles[pid] in ("driver", "driver_child"):
                roles[k] = "jvm" if procs[k][1] == "java" else "driver_child"
            else:
                roles[k] = "pyworker"
            stack.append(k)
    return {p: r for p, r in roles.items() if r in ROLES}


def snapshot(root: int, exclude: set[int] | None = None) -> dict[str, float]:
    """CPU seconds per role and RSS bytes per role at this instant."""
    procs = _read_all()
    roles = classify(root, exclude, procs)
    out = {f"{r}_cpu_s": 0.0 for r in ROLES} | {f"{r}_rss": 0 for r in ROLES}
    for pid, role in roles.items():
        own, reaped, rss = procs[pid][2:]
        # the driver's reaped children are earlier JVMs and the COPY
        # server: not part of a timed phase, so only its own time counts
        out[f"{role}_cpu_s"] += own if role == "driver" else own + reaped
        out[f"{role}_rss"] += rss
    return out


def live_pids(root: int, exclude: set[int] | None = None) -> set[int]:
    return set(classify(root, exclude)) - {root}


class Sampler:
    """Track peak summed RSS (and per role) over a phase, sampling on a
    background thread; CPU comes from the start/stop snapshots."""

    def __init__(self, root: int, exclude: set[int] | None = None, interval: float = 0.2):
        self.root, self.exclude, self.interval = root, exclude or set(), interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_total = 0
        self.peak = {r: 0 for r in ROLES}
        self.start_snap: dict[str, float] = {}
        self.end_snap: dict[str, float] = {}

    def _observe(self, snap: dict[str, float]) -> None:
        total = sum(snap[f"{r}_rss"] for r in ROLES)
        self.peak_total = max(self.peak_total, total)
        for r in ROLES:
            self.peak[r] = max(self.peak[r], snap[f"{r}_rss"])

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._observe(snapshot(self.root, self.exclude))

    def __enter__(self):
        self.start_snap = snapshot(self.root, self.exclude)
        self._observe(self.start_snap)
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *a):
        self._stop.set()
        self._thread.join()
        self.end_snap = snapshot(self.root, self.exclude)
        self._observe(self.end_snap)
        return False

    def cpu(self, role: str) -> float:
        return self.end_snap[f"{role}_cpu_s"] - self.start_snap[f"{role}_cpu_s"]

    def cpu_total(self) -> float:
        return sum(self.cpu(r) for r in ROLES)
