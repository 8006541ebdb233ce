"""All-core CPU calibration probe (the shape of ``bench_extra.box_clean``).

Each of ``cpus`` worker processes runs the same fixed integer loop; the
wall of that parallel burn rises when the host steals CPU from this box.
The benchmark runs the probe before and after every run and reports both,
so a steal-inflated run is visible in the output instead of dropped. The
probe is short and misses most steal phases, so the run also reports the
share of CPU time the host stole over its whole length (``/proc/stat``).

The workers are plain interpreter subprocesses, each waited for before the
probe returns (a multiprocessing pool would leave its resource-tracker
process running until the benchmark itself has exited)."""

from __future__ import annotations

import subprocess
import sys
import time

#: a worker reports "ready", burns once told to, then prints its sum
_WORKER = """
import sys
print("ready", flush=True)
sys.stdin.readline()
s = 0
for i in range(1_000_000):
    s += i * i
print(s, flush=True)
"""


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from ``/proc/stat``;
    (0, 0) where that is not available."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    # user nice system idle iowait irq softirq steal (guest time is in user)
    return (fields[7] if len(fields) == 8 else 0), sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of all CPU time between two ``cpu_ticks`` readings that the
    host gave to other guests while this one wanted to run."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def calibrate(cpus: int) -> float:
    """Seconds for ``cpus`` parallel burns (worker start-up excluded)."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _WORKER], stdin=subprocess.PIPE,
                         stdout=subprocess.PIPE, text=True)
        for _ in range(cpus)
    ]
    try:
        for p in procs:
            p.stdout.readline()
        t0 = time.monotonic()
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        for p in procs:
            if not p.stdout.readline().strip():
                raise RuntimeError("calibration worker died")
        return time.monotonic() - t0
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
            p.stdin.close()
            p.stdout.close()
