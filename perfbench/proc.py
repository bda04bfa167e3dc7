"""Process-tree accounting from /proc: CPU time, resident memory and
the host's steal time."""

from __future__ import annotations

import os
import threading

TICK = os.sysconf("SC_CLK_TCK")


def tree(root: int) -> set[int]:
    """``root`` and every process below it."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in out]
        out.update(kids)
        frontier.extend(kids)
    return out


def cpu_s(jvm: int) -> float:
    """CPU seconds spent so far by this process, the driver JVM and every
    process below it, live or reaped (user + system). Unlike wall time it
    leaves out what the hypervisor gave to other guests."""
    t = os.times()
    total = t.user + t.system
    for p in tree(jvm):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15]) / TICK
    return total


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot (the
    ``steal`` column of /proc/stat), summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / TICK


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree, sampled from /proc: the
    driver JVM, the Python workers it forks, and the two together."""

    def __init__(self, pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak_kb = {"total": 0, "jvm": 0, "workers": 0}
        self._stop_evt = threading.Event()

    def _sample(self) -> None:
        kb = {"jvm": 0, "workers": 0}
        for p in tree(self.pid):
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            kb["jvm" if p == self.pid else "workers"] += int(line.split()[1])
            except OSError:
                pass
        kb["total"] = kb["jvm"] + kb["workers"]
        for k, v in kb.items():
            self.peak_kb[k] = max(self.peak_kb[k], v)

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self._sample()
            self._stop_evt.wait(self.period)

    def stop(self) -> dict[str, float]:
        """Peaks in MiB, keyed total / jvm / workers."""
        self._stop_evt.set()
        self.join()
        self._sample()
        return {k: v / 1024 for k, v in self.peak_kb.items()}
