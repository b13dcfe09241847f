"""Host facts the benchmark records next to its metrics.

Nothing here is a gated metric: the calibration probe and the memory
figures describe the host a run landed on, so a slow run can be told
apart from a slow program.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time

PROBE_SECONDS = 0.5


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, value = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                out[key] = int(value.split()[0]) // 1024
    return out


def driver_heap_mb(available_mb: int) -> int:
    """A driver heap that fits in what the host has free: 40% of
    available memory, between 1 GiB and 2 GiB.  Python workers and the
    JVM's off-heap memory live in the rest."""
    return max(1024, min(2048, int(available_mb * 0.4)))


def _burn(q, seconds: float) -> None:
    end = time.monotonic() + seconds
    x = 1
    n = 0
    while time.monotonic() < end:
        for _ in range(10_000):
            x = (x * 1103515245 + 12345) % (1 << 31)
        n += 10_000
    q.put(n + (x & 1))  # consume x so the loop cannot be elided


def cpu_probe(workers: int, seconds: float = PROBE_SECONDS) -> dict:
    """Fixed busy loop on ``workers`` processes: aggregate and per-worker
    loop iterations per second.  The same code on the same host gives
    the same figure, so a drop means the host gave the run less CPU."""
    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    procs = [ctx.Process(target=_burn, args=(q, seconds)) for _ in range(workers)]
    for p in procs:
        p.start()
    total = sum(q.get() for _ in procs)  # drain before join
    for p in procs:
        p.join()
    return {
        "workers": workers,
        "seconds": seconds,
        "ops_per_s": round(total / seconds),
        "ops_per_s_per_worker": round(total / seconds / workers),
    }


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total
