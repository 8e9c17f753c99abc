"""Pure helpers the benchmark's figures rest on. No Spark, no I/O: the
self-test (selftest.py) covers every function here."""

from __future__ import annotations

import json
import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that it would be one or two draws, not a tail.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile (0 < q < 100) by linear interpolation, or
    None when fewer than MIN_BEYOND samples lie beyond it. The median needs
    only one sample."""
    if not values:
        return None
    if q != 50 and len(values) * (100 - q) / 100.0 < MIN_BEYOND:
        return None
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``: the run-to-run spread a bound is
    compared with."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def attribute_files(
    batch_files: dict[int, list[str]], batch_end: dict[int, float]
) -> tuple[dict[str, float], list[str]]:
    """Map each input file to the end time of the micro-batch that consumed
    it. ``batch_files`` is the file source's log (batch id -> files it
    listed); ``batch_end`` the batch end times from query progress. Returns
    (file -> end time, files listed by more than one batch). A file whose
    batch has no progress record is left out, so the caller sees it as not
    consumed."""
    end: dict[str, float] = {}
    seen: dict[str, int] = {}
    for bid in sorted(batch_files):
        for f in batch_files[bid]:
            seen[f] = seen.get(f, 0) + 1
            if seen[f] == 1 and bid in batch_end:
                end[f] = batch_end[bid]
    return end, sorted(f for f, n in seen.items() if n > 1)


def result_line(
    correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]
) -> str:
    """The benchmark's last stdout line: exactly the keys correct,
    attempted, failed and metrics; each metric a measured value and unit."""
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts attempted={attempted} failed={failed}")
    out = {}
    for name, (value, unit) in metrics.items():
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": out,
        },
        separators=(", ", ": "),
    )
