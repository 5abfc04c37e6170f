"""Host-speed probe: times a fixed piece of single-threaded work, in CPU
time, about 18 times a second until stdin closes, then prints the samples
as JSON ``[[wall time at the sample's middle, cpu seconds, steal jiffies,
all jiffies], ...]``; the jiffies are /proc/stat's running totals.

It uses about a tenth of one core. Because it counts CPU time, waiting for
a core does not slow it; what does is the host running fewer instructions
per CPU second, as it does when other tenants share its cores and caches.
"""

from __future__ import annotations

import json
import sys
import threading
import time

WORK = 60_000  # loop iterations per sample: about 5 ms of CPU on an idle core
PERIOD_S = 0.05


def work() -> None:
    s = 0
    for i in range(WORK):
        s += i * i


def cpu_ticks() -> tuple[int, int]:
    """(steal, all) jiffies summed over the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def main() -> None:
    done = threading.Event()
    threading.Thread(target=lambda: (sys.stdin.read(), done.set()), daemon=True).start()
    samples = []
    while not done.wait(PERIOD_S):
        w0, c0 = time.time(), time.thread_time()
        work()
        c1, w1 = time.thread_time(), time.time()
        samples.append((round((w0 + w1) / 2, 4), c1 - c0, *cpu_ticks()))
    print(json.dumps(samples))


if __name__ == "__main__":
    main()
