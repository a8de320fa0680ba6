"""Summary statistics and process memory readings shared by the workloads."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def p90(values: list[float]) -> tuple[float, int]:
    """(90th percentile by nearest rank, number of samples above it).
    The percentile is fixed, so a change that makes operations faster
    (and a run take more samples) does not move the metric to a higher
    percentile. Nearest rank picks a sample rather than interpolating
    between the costliest operation class and the next."""
    if not values:
        return 0.0, 0
    ordered = sorted(values)
    rank = math.ceil(0.9 * len(ordered))
    return ordered[rank - 1], len(ordered) - rank


def class_median_sum(samples: dict[str, list[float]]) -> float:
    """Sum over operation classes of each class's median: the time one
    pass over every class takes at the typical cost of each."""
    return sum(median(v) for v in samples.values())


def class_median_mean(samples: dict[str, list[float]]) -> float:
    """Mean over operation classes of each class's median. Classes count
    equally, so the figure does not jump from one class to another the
    way the median of the pooled samples does when classes differ in
    cost."""
    return class_median_sum(samples) / len(samples) if samples else 0.0


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def peak_rss_mb(jvm_pid: int) -> float:
    """Driver Python process plus the Spark JVM, peak RSS in MB."""
    return (vm_hwm_kb() + vm_hwm_kb(jvm_pid)) / 1024.0
