"""Host context, host-speed probes and memory sampling for one run.

The host's speed drifts by up to 2x within minutes (README.md, "Noise").
The end-to-end times are therefore given at a fixed reference speed:
each wall times ``ref_factor()``, the reference probe over the median of
the probes this run took, each while the program under test was idle.
The rest of the context (steal, load average, calibration) is reported
but is no metric.
"""

from __future__ import annotations

import os
import statistics
import threading
import time


def proc_children() -> dict[int, list[int]]:
    """ppid -> [pid] over every process visible in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; the ppid follows the ")"
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Summed proportional set size of ``root`` and all its descendants:
    the driver, the Spark JVM it launched and the JVM's Python workers.
    PSS, not RSS: the workers are forked from one daemon and share most
    of their pages, which a sum of RSS would count once per worker."""
    kids = proc_children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class Window:
    """Host context of a timed window: the peak summed PSS of this
    process tree, sampled every ``period`` seconds by a background
    thread, the CPU steal share and the load average."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(pid))
            self._stop.wait(self.period)

    def __enter__(self) -> "Window":
        self._cpu0 = cpu_times()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(os.getpid()))
        self.context = {
            "steal_share": steal_share(self._cpu0, cpu_times()),
            "loadavg_1min": os.getloadavg()[0],
        }


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples
    (field 8 of the cpu line)."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def calibrate_ms(n: int = 2_000_000) -> float:
    """Wall of a fixed single-thread pure-Python loop: a host-speed
    reference taken before and after the workload."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i & 0xFF
    return (time.perf_counter() - t0) * 1000.0


# the probe: a fixed single-thread loop, the median of three timings
PROBE_N = 70_000
# the reference host, on which one probe takes this long (about the
# median probe in a slow period of the 4-vCPU measuring host)
PROBE_REF_MS = 7.0
_probes: list[float] = []


def probe_ms() -> float:
    """The host's current speed: the median wall of three runs of a fixed
    pure-Python loop.  Taken only while the program under test is idle,
    so that the program's own load does not slow it.  Every probe is
    kept for ``ref_factor``."""
    p = sorted(calibrate_ms(PROBE_N) for _ in range(3))[1]
    _probes.append(p)
    return p


def ref_factor() -> float:
    """Walls times this are at the reference speed: the reference probe
    over the median of every probe taken so far in this run."""
    return PROBE_REF_MS / statistics.median(_probes)


class Phases:
    """Set-up, timed phase by phase, with a probe after each phase (the
    probe's own time falls in no phase)."""

    def __init__(self):
        self.t = time.perf_counter()
        self.wall: dict[str, float] = {}

    def __call__(self, name: str) -> None:
        self.wall[name] = time.perf_counter() - self.t
        probe_ms()
        self.t = time.perf_counter()
