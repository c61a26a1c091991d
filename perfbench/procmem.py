"""Peak resident memory of a process tree, sampled from a separate process.

``psutil`` is not available, so the tree is read from ``/proc``: the
driver JVM is a child of the benchmark's Python process and the PySpark
worker daemon and its workers are descendants of the JVM. The sampler
runs in its own process, so reading ``/proc`` never holds the
interpreter lock of the benchmark's Spark driver, and it leaves itself out
of the sum.

Each process counts its proportional set size (PSS): PySpark workers are
forked from one daemon and share most of their pages with it, so summing
plain RSS would count those pages once per worker and swing with the
number of workers alive at the sampling instant.

Run as ``python3 procmem.py ROOT_PID``: it samples every 0.2 s until its
stdin closes, then prints the peak sum in bytes.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int, skip: int) -> int:
    total = 0
    for pid in _tree(root):
        if pid == skip:
            continue
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue  # exited between listing and reading
    return total


class PeakRss:
    """Peak summed PSS of this process's tree between start() and stop()."""

    def __init__(self) -> None:
        self.peak = 0
        self._proc: subprocess.Popen | None = None

    def start(self) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid())],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def stop(self) -> None:
        if self._proc is not None:
            out, _ = self._proc.communicate()  # closes stdin, then waits
            self.peak = int(out.strip() or 0)
            self._proc = None


def main() -> int:
    root, me = int(sys.argv[1]), os.getpid()
    done = threading.Event()
    threading.Thread(
        target=lambda: (sys.stdin.read(), done.set()), daemon=True
    ).start()
    peak = 0
    while not done.is_set():
        peak = max(peak, tree_pss_bytes(root, me))
        done.wait(0.2)
    print(peak)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
