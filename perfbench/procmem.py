"""Peak memory of a process tree as summed PSS.

PSS splits each shared page among the processes mapping it, so forked
Python workers that share their parent's pages are not counted again,
as they are in summed RSS. Linux only (``/proc/<pid>/smaps_rollup``).

Sampling runs in a child process: a sampling thread in the driver would
hold its interpreter lock while the stream's py4j callbacks wait on it.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss_kb(root: int, exclude: int | None = None) -> int:
    """Summed PSS of ``root`` and its descendants in KiB, leaving out the
    subtree of ``exclude``."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid == exclude:
            continue
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class PeakPss:
    """Samples the tree of ``root`` from a child process until :meth:`stop`."""

    def __init__(self, root: int, interval_s: float = 2.0):
        self._peak_mb: float | None = None
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(root), str(interval_s)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )

    def stop(self) -> float:
        """Stop sampling (once; later calls return the same peak) and
        return the peak in MB (10^6 bytes)."""
        if self._peak_mb is None:
            out, _ = self._proc.communicate(input="", timeout=60)
            if self._proc.returncode != 0:
                raise RuntimeError(f"PSS sampler exited with {self._proc.returncode}")
            self._peak_mb = int(out) * 1024 / 1e6
        return self._peak_mb


def _sample(root: int, interval_s: float) -> int:
    """Peak summed PSS in KiB, until stdin reaches end of file."""
    done = threading.Event()
    threading.Thread(target=lambda: (sys.stdin.read(), done.set()), daemon=True).start()
    me, peak = os.getpid(), 0
    while True:
        peak = max(peak, tree_pss_kb(root, exclude=me))
        if done.wait(interval_s):
            return peak


if __name__ == "__main__":
    print(_sample(int(sys.argv[1]), float(sys.argv[2])))
