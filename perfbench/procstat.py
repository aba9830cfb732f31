"""CPU time and resident memory of this process and all its descendants,
read from ``/proc`` (no psutil).

The tree is the driver Python process, the JVM it launches and the Python
workers the JVM forks. ``tree_cpu`` splits CPU seconds by role so the
benchmark can report the cost of the Python-UDF boundary (``pyworker``)
apart from the JVM. ``become_subreaper`` and ``stop_descendants`` make sure
no process of the tree outlives the benchmark.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, command name, CPU seconds incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split at the LAST ')'
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, comm, (utime + stime + cutime + cstime) / _TICK


def _tree(root: int) -> dict[int, tuple[int, str, float]]:
    """pid -> stat for ``root`` and every live descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    keep = {root} if root in stats else set()
    frontier = list(keep)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        pid = frontier.pop()
        for c in children.get(pid, []):
            if c not in keep:
                keep.add(c)
                frontier.append(c)
    return {pid: stats[pid] for pid in keep}


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds so far: ``total``, ``driver`` (the root), ``jvm`` (java
    processes) and ``pyworker`` (Python processes below a JVM)."""
    root = root or os.getpid()
    tree = _tree(root)
    out = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    jvms = {pid for pid, (_, comm, _) in tree.items() if comm == "java"}
    for pid, (ppid, comm, cpu) in tree.items():
        out["total"] += cpu
        if pid == root:
            out["driver"] += cpu
        elif pid in jvms:
            out["jvm"] += cpu
        else:
            # walk up: a Python process under a JVM is a Spark worker
            p = ppid
            while p in tree and p not in jvms and p != root:
                p = tree[p][0]
            if p in jvms:
                out["pyworker"] += cpu
            else:
                out["driver"] += cpu  # launcher shells etc.
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared copy-on-write with a forked
    parent (Python workers) are split between the two, not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of the process tree (summed PSS), in MiB.

    Counted: the root, the JVM and Python processes. Anything else is a
    helper the JVM spawns (Hadoop shells out to ``chmod`` without native
    libraries); caught before its ``exec`` it still shares the JVM's
    address space and its PSS reads as the whole JVM's a second time."""
    root = root or os.getpid()
    tree = _tree(root)
    return sum(
        _pss_kb(pid) for pid, (_, comm, _) in tree.items()
        if pid == root or comm == "java" or comm.startswith("python")
    ) / 1024


class RssSampler:
    """Background thread sampling ``tree_rss_mb`` every ``interval`` s;
    ``peak_mb`` is the highest sum seen. Use as a context manager."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of to
    init, so ``stop_descendants`` can wait for them: Spark's Python worker
    daemon outlives the JVM that forked it by a moment."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants() -> dict[int, bool]:
    """pid -> whether it has exited but is not yet reaped (a zombie), for
    every process below this one."""
    me = os.getpid()
    out = {}
    for pid in _tree(me):
        if pid == me:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        out[pid] = raw[raw.rindex(")") + 2] == "Z"
    return out


def _reap() -> None:
    """Collect every exited child (orphans included, see become_subreaper)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 10.0) -> None:
    """Stop every process this one started, directly or not, and wait until
    each has ended: first multiprocessing's resource tracker (it ignores
    SIGTERM and exits when its pipe closes), then SIGTERM to whatever is
    left, SIGKILL after ``grace`` seconds. Returns once every one of them
    is reaped: an unreaped zombie still shows in the process table."""
    try:
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
    except Exception:  # noqa: BLE001 -- the SIGKILL below still ends it
        pass
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        _reap()
        procs = _descendants()
        if not procs:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid, zombie in procs.items():
            if zombie:
                continue  # reaped by its parent, or by us once orphaned
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(0.1)
