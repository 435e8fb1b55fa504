"""Host readings from ``/proc``: process-tree memory and contention context.

``RssSampler`` polls the resident memory of this process and all of its
descendants (the driver JVM that ``spark-submit`` starts and the Python
workers that JVM forks), keeping each process's peak (``VmHWM``, or the
largest ``VmRSS`` seen).  The reported peak is the sum over the processes
still alive when sampling stops, which leaves out the short-lived
``spark-submit`` launcher whose capture would depend on poll timing.

``cpu_snapshot``/``host_context`` give steal % over a window and the
1-minute load average, the two readings ``tools/host_probe.py`` uses to
tell co-tenant drift from a real change.  They are context printed beside
the metrics, not metrics.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _peak_kb(pid: int) -> int:
    hwm = rss = 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    hwm = int(line.split()[1])
                elif line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
    except OSError:
        pass
    return max(hwm, rss)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Background poller of the process tree's per-process peak RSS."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self._peaks: dict[int, int] = {}
        self._final: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            kb = _peak_kb(pid)
            if kb > self._peaks.get(pid, 0):
                self._peaks[pid] = kb

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop polling; returns the summed peak in MB of the processes
        alive now (call it before stopping the engine)."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        self._final = set(descendants(os.getpid()))
        return sum(kb for pid, kb in self._peaks.items() if pid in self._final) / 1024.0

    def by_process(self) -> dict[str, float]:
        """Peak MB per process name, over the processes ``stop`` counted."""
        out: dict[str, float] = {}
        for pid, kb in self._peaks.items():
            if pid in self._final:
                name = _comm(pid)
                out[name] = out.get(name, 0.0) + kb / 1024.0
        return out


def cpu_snapshot() -> list[int]:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                return [int(x) for x in line.split()[1:]]
    raise RuntimeError("no cpu line in /proc/stat")


def host_context(before: list[int]) -> dict:
    """Steal % since ``before`` and the current 1-minute load average."""
    deltas = [a - b for a, b in zip(cpu_snapshot(), before)]
    total = sum(deltas) or 1
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal_pct": round(100.0 * deltas[7] / total, 2) if len(deltas) > 7 else 0.0,
            "loadavg_1m": load1}
