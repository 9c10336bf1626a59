"""Host-speed calibration: how fast the host ran during one benchmark run.

A shared VM runs the same work up to twice as fast at one hour as at
another, and every wall-clock figure of a run moves with it. Two things
slow it down, and each is measured over the whole run:

- other tenants on the same physical cores make every instruction slower.
  A small child process runs the same fixed loop every ``INTERVAL_S`` from
  the start of the run to its end and records the CPU time each loop
  took. CPU time leaves out the waits the run's own threads cause. The
  samples fall in two clusters about 1.6x apart (a core shared with a busy
  neighbour or not), and how many fall in each says how fast the host
  executed code, so the probe figure is their mean: a median jumps from
  one cluster to the other;
- the hypervisor hands this VM's CPUs to other tenants (steal time). The
  share of the run's busy CPU time that was stolen comes from /proc/stat.

Time metrics are reported in reference-host seconds: the measured seconds
times ``scale() = REF_PROBE_S / probe * (1 - stolen share)``, and rates
divided by it, so runs made at different host speeds can be compared.
Neither measure calls the program.

    python3 perfbench/calib.py OUT   # the probe loop; writes one sample a line
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from statistics import mean

# the probe's mean CPU time on the reference host: a 4-core VM
REF_PROBE_S = 0.0045
LOOP_N = 20_000
INTERVAL_S = 0.2  # ~2% of one CPU


def _loop(n: int) -> int:
    d: dict[int, int] = {}
    s = 0
    for i in range(n):
        d[i & 1023] = i
        s += d.get((i * 7) & 1023, 0)
    return s


def probe_forever(out_path: str) -> None:
    with open(out_path, "w") as f:
        while True:
            t = time.thread_time()
            _loop(LOOP_N)
            f.write(f"{time.thread_time() - t:.9f}\n")
            f.flush()
            time.sleep(INTERVAL_S)


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of this VM since boot, from /proc/stat.
    Idle and I/O-wait ticks are left out: a CPU with nothing to run loses
    nothing to the hypervisor."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Calibration:
    """The host-speed measures of one run: ``start`` first, ``stop`` last."""

    def __init__(self, out_path: str):
        self.out_path = out_path
        self.proc: subprocess.Popen | None = None
        self.samples: list[float] = []
        self.ticks0 = self.ticks1 = (0, 0)

    def start(self) -> None:
        self.ticks0 = cpu_ticks()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), self.out_path], stdin=subprocess.DEVNULL
        )

    def stop(self) -> None:
        if self.proc is None:
            return
        self.ticks1 = cpu_ticks()
        self.proc.terminate()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=30)
        self.proc = None
        if os.path.exists(self.out_path):  # not if the probe died at once
            with open(self.out_path) as f:
                # the last line may be cut short by the signal
                self.samples = [float(x) for x in f.read().split("\n")[:-1] if x]

    def probe_s(self) -> float:
        return mean(self.samples)

    def stolen_share(self) -> float:
        """Share of the run's busy CPU time the hypervisor took back."""
        busy = self.ticks1[0] - self.ticks0[0]
        stolen = self.ticks1[1] - self.ticks0[1]
        return stolen / max(1, busy + stolen)

    def scale(self) -> float:
        """Factor from this host's seconds to reference-host seconds."""
        return REF_PROBE_S / self.probe_s() * (1.0 - self.stolen_share())


def normalize(e2e: dict, scale: float) -> dict:
    """End-to-end metrics in reference-host units. ``e2e`` maps a name to
    ``(value, unit, host_bound)``; ``host_bound`` is ``"time"`` for a
    duration, ``"rate"`` for work per second, ``None`` for a figure the
    host's speed does not set (memory, sizes, ratios, an offered rate)."""
    out = {}
    for name, (value, unit, kind) in e2e.items():
        if kind == "time":
            value = value * scale
        elif kind == "rate":
            value = value / scale
        out[name] = (value, unit)
    return out


if __name__ == "__main__":
    probe_forever(sys.argv[1])
