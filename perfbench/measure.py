"""Small statistics and size helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, as
    ``{"pct": p, "value": v, "n": n}``; ``pct`` is None below 11 samples."""
    n = len(values)
    if n < 11:
        return {"pct": None, "value": None, "n": n}
    pct = math.floor(100.0 * (n - 10) / n)
    ordered = sorted(values)
    rank = max(0, math.ceil(pct / 100.0 * n) - 1)
    return {"pct": pct, "value": ordered[rank], "n": n}


def dir_bytes(path: str, skip_prefix: tuple[str, ...] = (".", "_")) -> int:
    """Bytes of the data files under ``path`` (checksums, markers and
    hidden files excluded)."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith(skip_prefix) and not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(d, f))
    return total


def per_table_bytes(index_dir: str) -> dict[str, int]:
    return {
        name: dir_bytes(os.path.join(index_dir, name))
        for name in sorted(os.listdir(index_dir))
        if os.path.isdir(os.path.join(index_dir, name))
    }
