"""Helpers shared by the workloads: result digests, materialization for
traced spans, directory sizes, memory readings and tail percentiles."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def digest(df: DataFrame) -> list:
    """``[rows, crc_sum]`` over every column: consumes the whole result
    (a bare ``count()`` lets Catalyst prune joins away) and is
    independent of row order and partitioning."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.crc32(
                F.concat_ws(
                    "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
                )
            )
        ).alias("crc"),
    ).collect()[0]
    return [int(row["n"]), int(row["crc"] or 0)]


def materialize(*frames: DataFrame) -> int:
    """Run each lazy frame to completion (traced runs only, so a lazy
    call's work lands inside its own span); returns the total rows."""
    return sum(digest(df)[0] for df in frames)


def dir_size(path: str) -> dict:
    """``files`` and ``bytes`` of the data files under ``path``
    (Spark's ``_SUCCESS`` markers and ``.crc`` checksums excluded)."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return {"files": files, "bytes": size}


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    total_kb = 0
    for pid in (os.getpid(), jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def percentile_with_tail(samples: list[float]) -> tuple[str, float] | None:
    """The highest of p90/p99/p999 that has at least ten samples beyond
    it, as ``(label, value)``; None when there are too few samples."""
    n = len(samples)
    for label, q in (("p999", 0.999), ("p99", 0.99), ("p90", 0.9)):
        if n * (1 - q) >= 10:
            ordered = sorted(samples)
            return label, ordered[min(n - 1, int(q * n))]
    return None
