"""Pure statistics helpers and the /proc samplers (stolen CPU time, memory)."""

from __future__ import annotations

import bisect
import os
import statistics
import threading
import time
from collections.abc import Iterable, Sequence


def median(values: Iterable[float]) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else 0.0


def tail(samples: Iterable[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``beyond`` samples
    above it, as ``(value, percentile, n)``.

    With ``n`` sorted samples that is the ``n - beyond``-th smallest, at
    percentile ``100 * (n - beyond) / n``. When that percentile would
    not be above the median (``n <= 2 * beyond``) it says
    nothing about the tail, so the maximum is reported instead, at
    percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    k = n - beyond
    if 2 * k <= n:
        return xs[-1], 100.0, n
    return xs[k - 1], 100.0 * k / n, n


def failed_frac(op_kinds: list[str], raised: set[int], bad_kinds: set[str]) -> tuple[int, int]:
    """``(failed, attempted)`` over a run's timed ops.

    ``op_kinds[i]`` is the kind of the i-th timed op; ``raised`` holds the
    indices of ops that raised; ``bad_kinds`` are the kinds whose output
    did not verify, which fails every op of that kind."""
    failed = sum(1 for i, k in enumerate(op_kinds) if i in raised or k in bad_kinds)
    return failed, len(op_kinds)


#: Fields of /proc/stat's ``cpu`` line: the ones that count time the
#: vCPUs ran (user, nice, system, irq, softirq) and steal, the time they
#: were runnable but the hypervisor ran another guest instead.
CPU_BUSY = (0, 1, 2, 5, 6)
CPU_STEAL = 7


def interpolate(samples: Sequence[tuple[float, Sequence[float]]], t: float) -> list[float]:
    """The values at time ``t``, interpolated linearly between the
    time-ordered ``(time, values)`` samples around it; clamped to the first
    and last sample outside their range."""
    times = [s[0] for s in samples]
    i = bisect.bisect_left(times, t)
    if i == 0:
        return list(samples[0][1])
    if i == len(samples):
        return list(samples[-1][1])
    (ta, a), (tb, b) = samples[i - 1], samples[i]
    w = (t - ta) / (tb - ta) if tb > ta else 1.0
    return [x + w * (y - x) for x, y in zip(a, b)]


def stolen_series(samples: Sequence[tuple[float, Sequence[int]]], hz: float) -> list[tuple[float, list[float]]]:
    """Cumulative stolen seconds at each sample of the per-vCPU steal
    counters (``(time, [steal ticks of cpu0, cpu1, ...])``).

    Stolen time delays a run by as long as the hypervisor holds some vCPU:
    a Spark stage waits for its last task, and the driver for the stage.
    So each interval between two samples adds the time in it during which
    at least one vCPU was held, taking each vCPU to be held for its share
    of the interval independently of the others: with shares ``p_k`` that
    is ``1 - prod(1 - p_k)`` of the interval. It is the sum of the steal
    while little is stolen, and never more than the interval lasted."""
    out = [(samples[0][0], [0.0])]
    for (ta, a), (tb, b) in zip(samples, samples[1:]):
        dt = tb - ta
        free = 1.0  # share of the interval in which no vCPU was held
        for x, y in zip(a, b):
            if dt > 0:
                free *= 1.0 - min(1.0, (y - x) / hz / dt)
        out.append((tb, [out[-1][1][0] + dt * (1.0 - free)]))
    return out


def _cpu_lines() -> list[list[int]]:
    """The ``cpu`` lines of /proc/stat: the host-wide one, then one per vCPU."""
    with open("/proc/stat") as f:
        return [[int(x) for x in line.split()[1:]] for line in f if line.startswith("cpu")]


class CpuClock:
    """Samples /proc/stat's ``cpu`` lines every ``interval`` seconds on a
    daemon thread, stamped with wall-clock time, so that the time the
    hypervisor held the vCPUs (:func:`stolen_series`) can be read for any
    window of the run afterwards."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.samples: list[tuple[float, list[int]]] = []  # host-wide line
        self.steal: list[tuple[float, list[int]]] = []  # steal per vCPU
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        t, lines = time.time(), _cpu_lines()
        self.samples.append((t, lines[0]))
        self.steal.append((t, [line[CPU_STEAL] for line in lines[1:]]))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> CpuClock:
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    def stolen_s(self, start: float, end: float) -> float:
        """Seconds stolen from the run over ``[start, end]`` (wall-clock)."""
        series = stolen_series(list(self.steal), os.sysconf("SC_CLK_TCK"))
        return interpolate(series, end)[0] - interpolate(series, start)[0]

    def shares(self, start: float, end: float) -> dict[str, float]:
        """Shares of all CPU time over ``[start, end]`` that the vCPUs were
        busy and that the hypervisor took from them, and the CPU seconds it
        took summed over the vCPUs."""
        samples = list(self.samples)
        t0, t1 = interpolate(samples, start), interpolate(samples, end)
        total = sum(b - a for a, b in zip(t0, t1)) or 1.0
        steal = t1[CPU_STEAL] - t0[CPU_STEAL]
        return {
            "busy_share": sum(t1[i] - t0[i] for i in CPU_BUSY) / total,
            "steal_share": steal / total,
            "steal_cpu_s": steal / os.sysconf("SC_CLK_TCK"),
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended while we looked
            continue
        # comm may hold spaces and parens; the ppid follows its last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root_pid: int) -> dict[int, int]:
    """Resident bytes of ``root_pid`` and of its Python descendants, by pid.

    Descendants count their proportional share (PSS): the Python workers
    are forks of one daemon and share most of their pages, which plain
    RSS would count once per worker. Other descendants are skipped: the
    JVM forks short-lived helpers whose pages, until they exec, are the
    JVM's own. The root counts its RSS, which is cheap to read for a
    large JVM and equal to its PSS, as it shares next to nothing."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            if pid == root_pid:
                with open(f"/proc/{pid}/statm") as f:
                    out[pid] = int(f.read().split()[1]) * page
                continue
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    out[pid] = _pss(pid)
        except OSError:  # the process ended while we looked
            continue
    return out


class PeakRss:
    """Samples the RSS of a process tree every ``interval`` seconds on a
    daemon thread and keeps the peak of the tree's total, with the root's
    and the descendants' shares at that moment. Use as a context manager."""

    def __init__(self, root_pid: int, interval: float = 0.2) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by_pid = tree_rss_bytes(self.root_pid)
        total = sum(by_pid.values())
        if total > self.peak:
            root = by_pid.get(self.root_pid, 0)
            self.peak = total
            self.at_peak = {"root": root, "children": total - root, "n_children": len(by_pid) - 1}

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
