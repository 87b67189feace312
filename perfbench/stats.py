"""The benchmark's own arithmetic, kept free of Spark so it can be
unit-tested: the tail-percentile rule, the failure ratio and the
stored-bytes ratio."""

from __future__ import annotations

TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of `samples`
    that still has at least TAIL_BEYOND samples above it.

    With n sorted samples that is the order statistic at index
    n - TAIL_BEYOND - 1, i.e. percentile 100 * (n - TAIL_BEYOND) / n.
    A "tail" below the median says nothing, so when n is too small for
    that percentile to reach 50 (n < 2 * TAIL_BEYOND) the maximum is
    reported instead, as percentile 100."""
    n = len(samples)
    if n == 0:
        raise ValueError("tail of no samples")
    ordered = sorted(samples)
    if n < 2 * TAIL_BEYOND:
        return ordered[-1], 100.0, n
    k = n - TAIL_BEYOND - 1
    return ordered[k], 100.0 * (k + 1) / n, n


def failed_op_ratio(failed: int, attempted: int) -> float:
    """Failed or wrong operations over attempted operations."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def stored_bytes_ratio(backup_bytes: int, source_bytes: int) -> float:
    """Bytes the backup stored per byte of source parquet."""
    if source_bytes <= 0:
        raise ValueError("source has no bytes")
    return backup_bytes / source_bytes

