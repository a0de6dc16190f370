"""Pure statistics for the benchmark: no Spark, no I/O.

- ``percentile_report``: the reporting rule — a percentile is reported only
  when at least ten samples lie beyond it, always with the sample count.
- ``quartile_spread``: distance between the first and third quartile as a
  share of the median (the steadiness figure for repeated runs).
- ``freshness_join``: joins file arrival times with the micro-batch that
  committed each file.
- ``aggregate_stages``: folds Spark status-store stage records into the
  per-layer totals the traced run reports.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping

#: percentiles considered, lowest first; the report keeps those with at
#: least ``MIN_BEYOND`` samples above them
PERCENTILES = (50, 75, 90, 95, 99)
MIN_BEYOND = 10


def nearest_rank(sorted_samples: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank percentile of pre-sorted samples and how many samples
    lie beyond it (strictly after its rank)."""
    n = len(sorted_samples)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * n))
    return sorted_samples[rank - 1], n - rank


def percentile_report(samples: Iterable[float]) -> dict:
    """``{"n": count, "p50": v, "p90": v, ...}`` holding only the percentiles
    that have at least ``MIN_BEYOND`` samples beyond them."""
    xs = sorted(samples)
    out: dict = {"n": len(xs)}
    for p in PERCENTILES:
        if not xs:
            break
        value, beyond = nearest_rank(xs, p)
        if beyond >= MIN_BEYOND:
            out[f"p{p:g}"] = value
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles`` gives
    them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def freshness_join(
    due: Mapping[str, float],
    batch_files: Mapping[int, Iterable[str]],
    commit_time: Mapping[int, float],
) -> dict[str, float]:
    """Seconds from each file's arrival to the commit of the micro-batch
    that read it.

    ``due`` maps file name -> arrival time, ``batch_files`` maps batch id ->
    the file names it read (from the checkpoint's source log), and
    ``commit_time`` maps batch id -> commit time (the commit log entry).
    A file read by a batch that has not committed, or read more than once,
    raises: both mean the stream lost or replayed data.
    """
    out: dict[str, float] = {}
    for batch, files in batch_files.items():
        if batch not in commit_time:
            continue
        for f in files:
            if f not in due:
                continue
            if f in out:
                raise ValueError(f"file {f} read by more than one batch")
            out[f] = commit_time[batch] - due[f]
    return out


#: status-store fields summed per stage, and the unit conversion applied
STAGE_FIELDS = {
    "task_run_s": ("executorRunTime", 1e-3),  # ms
    "task_cpu_s": ("executorCpuTime", 1e-9),  # ns
    "shuffle_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


def aggregate_stages(stages: Iterable[Mapping], jobs: int = 0) -> dict[str, float]:
    """Sum stage records (dicts holding the status-store field names) into
    ``task_run_s``, ``task_cpu_s``, ``shuffle_bytes``, ``spill_bytes``;
    skipped stages did no work and are ignored. ``jobs`` is passed through
    so one record carries the whole layer."""
    totals = {k: 0.0 for k in STAGE_FIELDS}
    for st in stages:
        if st.get("status") == "SKIPPED":
            continue
        for key, (field, scale) in STAGE_FIELDS.items():
            totals[key] += float(st.get(field, 0)) * scale
    totals["jobs"] = float(jobs)
    return totals
