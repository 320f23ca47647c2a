"""Host probes: busy-loop rate and peak RSS of the Python workers."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

_WORKER_MARKS = (b"pyspark.daemon", b"pyspark.worker")

_SPIN = """
import sys, time
n, end = 0, time.perf_counter() + float(sys.argv[1])
while time.perf_counter() < end:
    for _ in range(10_000):
        n += 1
print(n)
"""


def busy_loop_mops(nproc: int, seconds: float = 0.25) -> float:
    """Aggregate pure-Python busy-loop rate (M iterations/s) over
    ``nproc`` processes: how fast this host runs Python right now,
    independent of the program under test (BASELINE.md protocol)."""
    procs = [subprocess.Popen([sys.executable, "-c", _SPIN, str(seconds)],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(nproc)]
    return sum(int(p.communicate()[0]) for p in procs) / seconds / 1e6


def descendants(root: int) -> set[int]:
    """The pids of every process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.add(child)
            todo.append(child)
    return out


def wait_gone(pids: set[int], timeout: float) -> None:
    """Wait until none of ``pids`` is running (gone or a zombie)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = False
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            alive = alive or stat[stat.rindex(b")") + 2:][:1] != b"Z"
        if not alive:
            return
        time.sleep(0.1)
    raise TimeoutError(f"processes still running: {sorted(pids)}")


def _rss_kb(pid: int) -> int:
    """VmRSS of ``pid`` if it is a PySpark Python worker, else 0."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            if not any(m in f.read() for m in _WORKER_MARKS):
                return 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of the ``pyspark.daemon``/worker processes under
    this process, sampled from /proc every ``period`` seconds while the
    ``with`` block runs (scripts/scale_rehearsal.py:RssSampler, limited
    to this process's descendants)."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = sum(_rss_kb(p) for p in descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
