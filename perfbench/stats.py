"""Summary statistics and the result-line format of the benchmark."""
import math
import re
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def median(values):
    return statistics.median(values)


def geomean(values):
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    s = sorted(values)
    rank = max(math.ceil(p / 100.0 * len(s)), 1)
    return s[rank - 1]


def tail(values):
    """(percentile, value, samples beyond it) for the highest percentile of
    TAIL_LADDER that still has at least MIN_BEYOND samples above it; with
    fewer than 2 * MIN_BEYOND samples no rung qualifies and the median is
    reported, with the samples beyond it."""
    n = len(values)
    for p in TAIL_LADDER:
        beyond = n - max(math.ceil(p / 100.0 * n), 1)
        if beyond >= MIN_BEYOND:
            return p, percentile(values, p), beyond
    return 50.0, percentile(values, 50.0), n - max(math.ceil(n / 2), 1)


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def result_line(correct, attempted, failed, metrics):
    """The last stdout line: `metrics` maps name -> (value, unit)."""
    for name, (value, unit) in metrics.items():
        if not valid_name(name) or not valid_unit(unit):
            raise ValueError(f"bad metric name or unit: {name!r} {unit!r}")
        if not isinstance(value, (int, float)) or math.isnan(value) or math.isinf(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}
