"""Process-tree memory and clean shutdown, read from /proc (no psutil)."""

from __future__ import annotations

import os
import signal
import time


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            out[int(d)] = int(rest[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(pid: int | None = None) -> list[int]:
    root = pid or os.getpid()
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: "list[int] | None" = None) -> float:
    """Summed VmHWM (peak resident set) of this process and its live
    descendants, or of ``pids``."""
    pids = pids if pids is not None else [os.getpid(), *descendants()]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmRSS") / 1024.0


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever is left at ``timeout``."""
    deadline = time.time() + timeout
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5.0
            pids = alive
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False
