"""Peak memory and scratch-disk use during a timed call, sampled from /proc.

Memory is the summed resident set of the Spark JVM and every process below
it (the Python daemon and its forked workers); pages shared between forked
workers count once per process. Scratch is the byte total of the files under
the Spark local dir (which also holds the library's parquet spills) that the
call created; files left by earlier calls, which Spark deletes whenever its
periodic cleaner runs, are not counted.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def file_sizes(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            try:
                out[p] = os.stat(p).st_size
            except OSError:
                continue
    return out


def dir_bytes(path: str) -> int:
    return sum(file_sizes(path).values())


class PeakSampler:
    """Context manager: samples every ``interval`` seconds on a thread."""

    def __init__(self, root_pid: int, scratch_dir: str, interval: float = 0.25):
        self.root_pid = root_pid
        self.scratch_dir = scratch_dir
        self.interval = interval
        self.peak_rss = 0
        self.peak_scratch = 0
        self._base: set[str] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_rss = max(self.peak_rss, tree_rss_bytes(self.root_pid))
        new = sum(n for p, n in file_sizes(self.scratch_dir).items() if p not in self._base)
        self.peak_scratch = max(self.peak_scratch, new)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._base = set(file_sizes(self.scratch_dir))
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return False

    @property
    def rss_mb(self) -> float:
        return self.peak_rss / float(1 << 20)

    @property
    def scratch_mb(self) -> float:
        return self.peak_scratch / float(1 << 20)
