"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own Python driver, the Spark JVM it
launches and the Python workers the JVM forks.  CPU of a process that
has exited and been reaped moves into its parent's ``cutime``/``cstime``,
so summing ``utime+stime+cutime+cstime`` over the live tree counts every
process once.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PR_SET_CHILD_SUBREAPER = 36


def _stat_fields(proc: str, pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the ``(comm)`` field
    (index 0 is the state, 1 the parent pid); None if the process is
    gone."""
    try:
        with open(os.path.join(proc, str(pid), "stat")) as fh:
            text = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return text[text.rindex(")") + 2:].split()


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        f = _stat_fields(proc, int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int], proc: str = "/proc") -> float:
    """User + system CPU of ``pids`` and their reaped children."""
    ticks = 0
    for pid in pids:
        f = _stat_fields(proc, pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


def tree_cpu_seconds(root: int | None = None, proc: str = "/proc") -> float:
    return cpu_seconds(tree_pids(root or os.getpid(), proc), proc)


def status_kb(pid: int, key: str, proc: str = "/proc") -> int:
    """A ``kB`` field (``VmHWM``, ``VmRSS``) of ``/proc/<pid>/status``;
    0 if the process or the field is gone."""
    try:
        with open(os.path.join(proc, str(pid), "status")) as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def comm(pid: int, proc: str = "/proc") -> str:
    try:
        with open(os.path.join(proc, str(pid), "comm")) as fh:
            return fh.read().strip()
    except FileNotFoundError:
        return ""


def peak_rss_mb(root: int | None = None, proc: str = "/proc") -> float:
    """High-water RSS of the Python driver plus every JVM in its tree."""
    root = root or os.getpid()
    pids = [root] + [p for p in tree_pids(root, proc) if comm(p, proc) == "java"]
    return sum(status_kb(p, "VmHWM", proc) for p in pids) / 1024.0


def steal_share(since: tuple[int, int] | None = None, proc: str = "/proc"):
    """``(steal, total)`` CPU ticks of the host so far; with ``since``,
    the share of ticks stolen by the hypervisor since then."""
    with open(os.path.join(proc, "stat")) as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    now = (ticks[7], sum(ticks))
    if since is None:
        return now
    total = now[1] - since[1]
    return (now[0] - since[0]) / total if total else 0.0


def become_subreaper() -> bool:
    """Make descendants orphaned by their parent re-parent to this process
    (Linux ``PR_SET_CHILD_SUBREAPER``), so that :func:`end_tree` can find
    and reap them: the Spark JVM forks the Python worker daemon, which
    outlives the JVM by a moment."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _reap_children() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def live_descendants(root: int | None = None, proc: str = "/proc") -> list[int]:
    """Descendants of ``root`` (default: this process) that have not
    ended; zombies count as ended."""
    root = root or os.getpid()
    return [
        p for p in tree_pids(root, proc)
        if p != root and (_stat_fields(proc, p) or ["Z"])[0] not in ("Z", "X")
    ]


def end_tree(grace: float = 15.0, kill_wait: float = 10.0, poll: float = 0.05) -> list[int]:
    """Wait up to ``grace`` s for every descendant of this process to end,
    then SIGKILL those left and wait up to ``kill_wait`` s more, reaping
    each child as it ends.  Returns the pids that had to be killed."""
    killed: list[int] = []
    deadline = time.monotonic() + grace
    while True:
        _reap_children()
        live = live_descendants()
        if not live:
            return killed
        if time.monotonic() >= deadline:
            if killed:  # killed once already: give up rather than hang
                return killed
            for pid in live:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = live
            deadline = time.monotonic() + kill_wait
        time.sleep(poll)
