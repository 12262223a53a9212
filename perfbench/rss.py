"""Peak resident memory of a process tree, sampled from /proc.

    python3 perfbench/rss.py <pid>

Samples the tree rooted at ``pid`` (leaving itself out) every
``PERIOD`` seconds until its standard input closes, then prints the peak
in bytes.  It runs as a child process so that sampling takes no time
from the measured interpreter (``psutil`` is not installed).
"""

from __future__ import annotations

import os
import resource
import select
import sys

PERIOD = 0.1


def tree_rss_bytes(root: int, skip: int = -1) -> int:
    """Resident memory of ``root`` and all its descendants but ``skip``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    page = resource.getpagesize()
    while todo:
        pid = todo.pop()
        if pid == skip:
            continue
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def main(root: int) -> None:
    me, peak = os.getpid(), 0
    while True:
        peak = max(peak, tree_rss_bytes(root, skip=me))
        ready, _, _ = select.select([sys.stdin], [], [], PERIOD)
        if ready and not sys.stdin.read(1):
            break
    print(peak, flush=True)


if __name__ == "__main__":
    main(int(sys.argv[1]))
