"""Pure helpers: percentiles with their sample-count rule, and the
file → micro-batch latency mapping read from a streaming checkpoint.

Nothing here imports Spark, so the tests run in a plain interpreter.
"""

from __future__ import annotations

import json
import math
import os
from urllib.parse import unquote, urlparse

# A percentile is "supported" when at least this many samples lie beyond it.
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``numpy.percentile``'s default):
    rank ``q/100 · (n − 1)`` between the two neighbouring order
    statistics. Raises on an empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = q / 100.0 * (len(xs) - 1)
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least ``MIN_TAIL_SAMPLES`` beyond
    the ``q``-th percentile (so p90 needs n ≥ 100, p50 needs n ≥ 20)."""
    return n * (1.0 - q / 100.0) >= MIN_TAIL_SAMPLES - 1e-9


def highest_supported_percentile(n: int, candidates=(99.0, 95.0, 90.0, 75.0, 50.0)) -> float | None:
    """The highest of ``candidates`` that ``n`` samples support, else None."""
    for q in candidates:
        if tail_supported(n, q):
            return q
    return None


def median(values: list[float]) -> float:
    return percentile(values, 50)


def kind_percentile(by_kind: dict[str, list[float]], q: float) -> float:
    """Mean over request kinds of each kind's ``q``-th percentile. With
    kinds whose latencies sit at different levels, a percentile of the
    pooled samples falls in the gap between two levels and jumps with
    every sample; this one moves only when a kind's own latency does.
    Kinds without samples are skipped; raises when none has any."""
    per = [percentile(xs, q) for xs in by_kind.values() if xs]
    if not per:
        raise ValueError("percentile of no samples")
    return sum(per) / len(per)


# --- streaming checkpoint: which micro-batch consumed which file -------------

def _log_entries(path: str):
    """JSON entries of one Spark metadata-log file (first line is ``vN``)."""
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line and not line.startswith("v"):
                yield json.loads(line)


def file_batches(checkpoint: str) -> dict[str, int]:
    """Map each source file (absolute local path) to the micro-batch that
    read it, from ``<checkpoint>/sources/0``. Compacted logs
    (``N.compact``) carry every earlier entry with its own ``batchId``."""
    src_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(src_dir):
        return out
    for name in os.listdir(src_dir):
        if name.startswith("."):
            continue
        own = int(name.removesuffix(".compact"))
        for entry in _log_entries(os.path.join(src_dir, name)):
            path = unquote(urlparse(entry["path"]).path)
            out[path] = int(entry.get("batchId", own))
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Micro-batch id → commit time (epoch seconds): the mtime of
    ``<checkpoint>/commits/<id>``, written when the batch commits."""
    c_dir = os.path.join(checkpoint, "commits")
    if not os.path.isdir(c_dir):
        return {}
    return {
        int(n): os.stat(os.path.join(c_dir, n)).st_mtime
        for n in os.listdir(c_dir)
        if n.isdigit()
    }


def file_latencies(
    written_at: dict[str, float], batches: dict[str, int], commits: dict[int, float]
) -> tuple[dict[str, float], list[str]]:
    """Seconds from each file's write to the commit of the batch that read
    it. Returns ``(latencies, missing)``; a file no committed batch read
    is listed in ``missing`` (the caller counts it as a failure)."""
    lat: dict[str, float] = {}
    missing: list[str] = []
    for path, t_written in written_at.items():
        batch = batches.get(path)
        if batch is None or batch not in commits:
            missing.append(path)
            continue
        lat[path] = commits[batch] - t_written
    return lat, missing
