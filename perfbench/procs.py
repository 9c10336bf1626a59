"""Process-tree helpers over /proc (Linux): peak memory and shutdown."""

from __future__ import annotations

import os
import signal
import time


def children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            pass
    return out


def tree(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children(p))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` plus that of each of its
    direct children: this interpreter, the JVM it started and the
    host-speed probe (about 10 MB, the same in every run). Spark's
    Python workers are left out: how many are alive when this is read
    depends on scheduling, not on the program's memory use."""
    return sum(_status_kb(p, "VmHWM") for p in [pid, *children(pid)]) / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
        return state != "Z"
    except (FileNotFoundError, IndexError):
        return False


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; kill what is left at the deadline.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        left = [p for p in pids if _alive(p)]
        if not left:
            return []
        time.sleep(0.1)
    left = [p for p in pids if _alive(p)]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in left:
        while _alive(p) and time.monotonic() < deadline + 10:
            time.sleep(0.05)
    return left
