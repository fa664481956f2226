"""Host speed probe: a child process that times two fixed kernels.

    python3 -m kgbench.hostspeed <out-file>

On a shared host the speed of a vCPU changes over seconds and minutes, by
up to half, with no CPU steal visible to the guest: a fixed loop takes more
CPU time, not more time waiting for a core (NOTES.md, "Host speed"). The
probe measures that speed while the benchmark runs. Every ``PERIOD``
seconds it times, in CPU time of its own thread, a pure-Python loop that
stays in L1 (core speed) and a sum over a 32 MiB array (memory bandwidth),
about 10 ms together, and appends ``<epoch s> <loop s> <sum s>`` to the
out-file until it is terminated. CPU time leaves out time the probe waited
for a core, so the benchmark's own load does not read as a slow host.

``Probe.slowness`` turns the samples taken during an op into the host's
slowness over it: each kernel's time relative to its time on the reference
host, the two averaged, and the mean taken over the samples. An op's
latency divided by it is its latency at the reference host's speed.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

#: seconds between two samples
PERIOD = 0.2
#: iterations of the pure-Python loop
LOOP = 100_000
#: float64 elements summed by the memory kernel (32 MiB)
MEM_ELEMS = 4 * 2**20
#: CPU seconds of each kernel on the reference host (a 4-vCPU Intel Xeon
#: VM on a quiet shared host); slowness 1.0 means that speed
REF_LOOP_S = 0.005
REF_MEM_S = 0.004


def sample(buf) -> tuple[float, float]:
    """CPU seconds of (the loop, the memory sum), once."""
    t0 = time.thread_time()
    s = 0
    for i in range(LOOP):
        s += i
    t1 = time.thread_time()
    buf.sum()
    return t1 - t0, time.thread_time() - t1


def main(path: str) -> None:
    import numpy as np

    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    parent = os.getppid()
    buf = np.ones(MEM_ELEMS)
    with open(path, "w") as fh:
        # ends when terminated, or when the benchmark died without doing so
        while not stop and os.getppid() == parent:
            loop_s, mem_s = sample(buf)
            fh.write(f"{time.time():.6f} {loop_s:.9f} {mem_s:.9f}\n")
            fh.flush()
            time.sleep(PERIOD)


class Probe:
    """Runs the probe in a child process from construction to ``stop``,
    which ends it, waits for it and loads its samples."""

    def __init__(self, path: str):
        self.path = path
        self.samples: list[tuple[float, float]] = []  # (epoch s, slowness)
        self._stopped = False
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "kgbench.hostspeed", path],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )

    def stop(self) -> None:
        if self._stopped:
            return
        self._stopped = True
        if self.proc.poll() is None:
            self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        if not os.path.exists(self.path):
            return
        with open(self.path) as fh:
            for line in fh:
                parts = line.split()
                if len(parts) != 3:
                    continue  # a line cut short by the terminate
                t, loop_s, mem_s = map(float, parts)
                slow = (loop_s / REF_LOOP_S + mem_s / REF_MEM_S) / 2
                self.samples.append((t, slow))

    def slowness(self, t0: float, t1: float) -> float:
        """Mean slowness of the samples taken in [t0, t1] (epoch seconds);
        for a window too short to hold one, the nearest sample's."""
        if not self.samples:
            raise RuntimeError("the host speed probe recorded no samples")
        inside = [s for t, s in self.samples if t0 <= t <= t1]
        if inside:
            return sum(inside) / len(inside)
        mid = (t0 + t1) / 2
        return min(self.samples, key=lambda ts: abs(ts[0] - mid))[1]


if __name__ == "__main__":
    main(sys.argv[1])
