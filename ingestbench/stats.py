"""Order statistics and out-of-process measurements for the ingest benchmark.

Everything here is engine-independent: order statistics over latency samples,
peak resident memory read from ``/proc``, and bytes on disk under a set of
directories.
"""

from __future__ import annotations

import math
import os

# a tail is only reported when the operation yielded at least this many
# samples; the tail percentile is then the highest one that still has at
# least TAIL_BEYOND samples above it
TAIL_MIN_SAMPLES = 20
TAIL_BEYOND = 10


def p50(samples: list[float]) -> float:
    """Nearest-rank median: the sample at rank ceil(n / 2). The tail below
    uses the same order-statistic rule, so a tail is never below it."""
    if not samples:
        raise ValueError("median of no samples")
    return sorted(samples)[math.ceil(len(samples) / 2) - 1]


def tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it, labelled with that percentile and the sample count; None below
    ``TAIL_MIN_SAMPLES`` samples.

    With n samples, rank r leaves n - r samples beyond it, so the tail is
    the sample at rank n - TAIL_BEYOND, i.e. percentile 100 * (n - 10) / n.
    At n >= 20 that rank is at or above p50's rank ceil(n / 2), so the
    tail is never below ``p50``."""
    n = len(samples)
    if n < TAIL_MIN_SAMPLES:
        return None
    rank = n - TAIL_BEYOND
    pct = 100.0 * rank / n
    return {
        "value": sorted(samples)[rank - 1],
        "percentile": round(pct, 2),
        "samples": n,
    }


def _status_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(f"{field} not in /proc/{pid}/status")


def peak_rss_mb(pids: list[int | str]) -> float:
    """Summed peak resident set (``VmHWM``) of the given processes, in MB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def tree_bytes(roots: list[str]) -> int:
    """Bytes of every regular file under ``roots`` (links not followed)."""
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                p = os.path.join(dirpath, name)
                if not os.path.islink(p):
                    total += os.path.getsize(p)
    return total


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc/self/stat``."""
    with open("/proc/self/stat") as f:
        # field 22 (starttime, clock ticks since boot) follows the
        # parenthesised command name, which may itself contain spaces
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
