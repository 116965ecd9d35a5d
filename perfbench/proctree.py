"""Process-tree accounting from /proc: CPU time, Python memory, host steal.

The tree is this Python process plus everything it started: the Spark
JVM and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and its descendants. Time the hypervisor stole from
    the VM is not charged to any process."""
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def python_pss_kb(root: int) -> int:
    """Proportional set size of ``root`` and its descendants other than
    the JVM: this process and the Python workers Spark forks (they share
    pages, which PSS splits among them instead of counting each time).
    The JVM's memory is read from the JVM itself (see run.jvm_peak_mb)."""
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    continue
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)



class MemSampler:
    """Peak Python memory of this process and its descendants (see
    ``python_pss_kb``), sampled every 0.5 s."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True, name="mem-sampler")

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, python_pss_kb(os.getpid()))
            if self._stop.wait(0.5):
                return

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
