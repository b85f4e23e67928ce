"""The benchmark's process tree, read from /proc: the driver, the JVM it
launches and the JVM's Python daemon and workers."""
from __future__ import annotations

import os
import time


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces: fields resume after ')'
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(int(name))
            if pp is not None:
                children.setdefault(pp, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return "?"


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) in MiB of this process's live
    descendants, summed per executable: the JVM ("java") and the Python
    daemon and workers ("python3.x"). The driver process itself is left
    out: it holds the benchmark's own inputs and ground truth. Read
    before a session stops, so its Python workers still count."""
    out: dict[str, float] = {}
    for p in descendants():
        exe = _exe(p)
        out[exe] = out.get(exe, 0.0) + _hwm_kb(p) / 1024.0
    return out


def wait_for_children(timeout_s: float) -> list[int]:
    """Reap this process's descendants; returns any still alive."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        alive = descendants()
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)
