"""Noise record: a short multi-core steal probe plus host CPU counters.

Reported next to a run's metrics so a wall time inflated by a noisy host
can be told apart from an engine change.  Nothing here gates a run.

The probe runs one thread per core, each hashing a buffer (``hashlib``
releases the interpreter lock on large inputs) for a fixed wall window,
and reports the CPU time the threads got divided by cores × wall: 1.0 on
an idle host, lower when other tenants or stolen cycles take cores.  The
host's steal share over the probe window comes from ``/proc/stat``.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time

_WINDOW_S = 0.25
_BUF = b"\x5a" * (1 << 20)


def _spin(deadline: float, out: list, i: int) -> None:
    t0 = time.thread_time()
    while time.perf_counter() < deadline:
        hashlib.sha256(_BUF).digest()
    out[i] = time.thread_time() - t0


def _proc_stat() -> dict[str, int]:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()[1:]
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return {n: int(v) for n, v in zip(names, parts)}


def probe() -> dict:
    cores = len(os.sched_getaffinity(0))
    hashlib.sha256(_BUF).digest()  # first call initialises the digest
    stat0 = _proc_stat()
    out = [0.0] * cores
    deadline = time.perf_counter() + _WINDOW_S
    threads = [threading.Thread(target=_spin, args=(deadline, out, i)) for i in range(cores)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    stat1 = _proc_stat()
    delta = {k: stat1[k] - stat0[k] for k in stat0}
    ticks = sum(delta.values()) or 1
    return {
        "cores": cores,
        "cpu_over_wall": sum(out) / (cores * wall),
        "host_steal_share": delta["steal"] / ticks,
        "loadavg": os.getloadavg(),
    }
