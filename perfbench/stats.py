"""Summary statistics and box readings for the benchmark (no Spark)."""

from __future__ import annotations

import math
import os
from collections import defaultdict


def median(values: list[float]) -> float:
    """Middle value; the mean of the two middle values for even counts."""
    if not values:
        raise ValueError("median of no samples")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2.0


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summarize_ops(ops: list[tuple[str, float]]) -> dict:
    """Per-op-type medians and their geomean, with sample counts.

    ``ops`` is ``(op_type, seconds)`` for every timed op that succeeded.
    """
    by_type: dict[str, list[float]] = defaultdict(list)
    for name, secs in ops:
        by_type[name].append(secs)
    p50 = {name: median(v) for name, v in sorted(by_type.items())}
    return {
        "op_p50_s": p50,
        "samples": {name: len(v) for name, v in sorted(by_type.items())},
        "op_p50_geomean_s": geomean(list(p50.values())),
    }


def fail_frac(attempted: int, failed_ops: set[int]) -> float:
    """Share of attempted ops that failed or gave a wrong result.

    ``failed_ops`` holds op indices, so an op that both raised and was
    later found wrong counts once.
    """
    if attempted < 1:
        raise ValueError("no ops attempted")
    bad = {i for i in failed_ops if 0 <= i < attempted}
    if len(bad) != len(failed_ops):
        raise ValueError("failed op index outside the attempted range")
    return len(bad) / attempted


def cpu_ticks(stat_path: str = "/proc/stat") -> tuple[int, int]:
    """(busy+idle ticks, steal ticks) from the aggregate cpu line.

    Only ``user..steal`` (the first eight fields) are summed: ``guest``
    and ``guest_nice`` are already included in ``user`` and ``nice``, so
    adding them would count guest time twice.
    """
    with open(stat_path) as fh:
        fields = fh.readline().split()
    if fields[0] != "cpu":
        raise ValueError(f"unexpected first line in {stat_path}")
    vals = [int(x) for x in fields[1:9]]
    return sum(vals), vals[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    if total <= 0:
        return 0.0
    return 100.0 * (after[1] - before[1]) / total


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def nproc() -> int:
    """CPUs this process may run on."""
    return len(os.sched_getaffinity(0))
