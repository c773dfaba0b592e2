"""Host telemetry for every run record: load average, steal and iowait
shares from /proc/stat over the run, a fixed CPU calibration loop timed
before and after, and peak resident memory of a process."""

from __future__ import annotations

import os
import time


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop (speed of one core now)."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc ^= i * i
    return time.perf_counter() - t


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB, 0.0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Telemetry:
    """Start at construction, ``finish()`` returns the record."""

    def __init__(self) -> None:
        self.load_start = list(os.getloadavg())
        self.calib_start = calibrate()
        self.ticks = _cpu_ticks()

    def finish(self) -> dict:
        end = _cpu_ticks()
        delta = [b - a for a, b in zip(self.ticks, end)]
        total = sum(delta) or 1
        # /proc/stat columns: user nice system idle iowait irq softirq steal
        return {
            "cpu_count": os.cpu_count(),
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "iowait_frac": round(delta[4] / total, 4),
            "steal_frac": round(delta[7] / total, 4) if len(delta) > 7 else 0.0,
            "calib_start_s": round(self.calib_start, 4),
            "calib_end_s": round(calibrate(), 4),
        }
