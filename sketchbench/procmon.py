"""Peak-RSS sampler over a process tree, and the host steal counter.

The sampler polls ``/proc`` from a daemon thread and keeps, per pid, the
largest ``VmHWM`` (peak resident set) it saw.  ``run.py`` runs it over
the worker process, so the measured process carries no sampler thread;
``VmHWM`` is the kernel's own high-water mark, so a slow poll loses
nothing for processes that live until the last sample.  Python processes
(the driver and PySpark's daemon and workers) add up into ``python_mb``;
the JVM goes to ``jvm_mb`` separately because its peak follows GC timing
and varies far more between identical runs.
"""

from __future__ import annotations

import os
import threading


def steal_jiffies() -> int:
    """Host-wide steal time so far (8th value of the ``cpu`` line)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _children_map() -> dict:
    kids = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces and parens: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _status(pid: int):
    name, hwm = None, None
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmHWM:"):
                    hwm = int(line.split()[1])
    except OSError:
        return None, None
    return name, hwm


class RssSampler:
    def __init__(self, root_pid: int, interval_s: float = 0.25):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = {}  # pid -> (name, max VmHWM kB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        kids = _children_map()
        todo, tree = [self.root_pid], []
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(kids.get(pid, ()))
        for pid in tree:
            name, hwm = _status(pid)
            if name is None or hwm is None:
                continue
            prev = self.peak_kb.get(pid, (name, 0))[1]
            self.peak_kb[pid] = (name, max(prev, hwm))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> dict:
        """Take a last sample (call it while the tree is still alive)."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        py = sum(kb for name, kb in self.peak_kb.values() if name.startswith("python"))
        jvm = sum(kb for name, kb in self.peak_kb.values() if name == "java")
        return {"python_mb": py / 1024.0, "jvm_mb": jvm / 1024.0,
                "python_procs": sum(1 for n, _ in self.peak_kb.values()
                                    if n.startswith("python"))}
