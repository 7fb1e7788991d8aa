"""Pure arithmetic of the benchmark: percentiles, span self time and the
storage amplification ratios. No Spark, no I/O — the self-tests in
``test_perfbench.py`` pin every function here down on hand-built inputs.
"""

from __future__ import annotations

import math
import statistics

# A high percentile is reported only when at least this many samples lie
# beyond it: fewer than ten and a single slow sample moves it.
MIN_TAIL_SAMPLES = 10
HIGH_PERCENTILES = (75, 90, 99)


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default, and what
    ``statistics.quantiles(method="inclusive")`` gives)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(samples: list[float]) -> float:
    return percentile(samples, 50)


def high_percentile(
    samples: list[float], candidates: tuple[int, ...] = HIGH_PERCENTILES
) -> tuple[int, float] | None:
    """The highest candidate percentile with at least ``MIN_TAIL_SAMPLES``
    samples strictly beyond it, as ``(p, value)``; None when the run is too
    short to support any of them."""
    best = None
    for p in sorted(candidates):
        if len(samples) * (100 - p) / 100.0 < MIN_TAIL_SAMPLES:
            break
        v = percentile(samples, p)
        if sum(1 for x in samples if x > v) >= MIN_TAIL_SAMPLES:
            best = (p, v)
    return best


def summary(samples: list[float]) -> dict:
    """Sample count, quartiles, and the supported high percentile as
    ``high = (p, value)`` or None."""
    return {
        "n": len(samples),
        "p25": percentile(samples, 25),
        "p50": percentile(samples, 50),
        "p75": percentile(samples, 75),
        "high": high_percentile(samples),
    }


def relative_iqr(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with ``statistics.quantiles``' default (exclusive) method — the
    run-to-run spread a metric's bound is checked against."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    if med == 0:
        return 0.0 if q1 == q3 else math.inf
    return (q3 - q1) / abs(med)


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of its interval that its children
    cover. Overlapping children count once; parts of a child outside the
    parent's interval do not count."""
    start, end = span["start"], span["end"]
    cuts = sorted(
        (max(c["start"], start), min(c["end"], end))
        for c in children
        if c["end"] > start and c["start"] < end
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in cuts:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def manifest_files(manifest: dict | None) -> set[str]:
    """Every data file a table manifest references (relative paths)."""
    if not manifest:
        return set()
    return {p for files in manifest["buckets"].values() for p in files}


def bytes_written(manifests: list[dict | None], size_of) -> tuple[int, int]:
    """Data files (count, bytes) the store committed across a run of
    consecutive manifests: every file referenced by a later manifest that
    no earlier one in the list referenced. ``manifests[0]`` is the state
    before the measured interval; ``size_of`` maps a relative path to its
    size in bytes."""
    seen = manifest_files(manifests[0])
    n = total = 0
    for m in manifests[1:]:
        for p in sorted(manifest_files(m) - seen):
            n += 1
            total += size_of(p)
            seen.add(p)
    return n, total


def write_amp(data_bytes_written: int, changed_image_bytes: int) -> float:
    """Data bytes the store wrote per byte of changed row images."""
    if changed_image_bytes <= 0:
        raise ValueError("write_amp needs a positive changed-image byte count")
    return data_bytes_written / changed_image_bytes


def space_amp(live_version_bytes: int, logical_live_bytes: int) -> float:
    """Bytes of the live version's files per byte of live row images."""
    if logical_live_bytes <= 0:
        raise ValueError("space_amp needs a positive logical byte count")
    return live_version_bytes / logical_live_bytes
