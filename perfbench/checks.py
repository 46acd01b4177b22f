"""Result comparison against the oracle, and the statistics the metrics use."""

import math
import statistics

# Floats from different engines differ in the last bits (summation order);
# anything within this relative tolerance counts as equal.
REL_TOL = 1e-9
ABS_TOL = 1e-6


def cell_equal(actual, expected):
    """One printed/wire cell (text or None) against one oracle value."""
    if expected is None:
        return actual is None or actual == "NULL"
    if actual is None:
        return False
    if isinstance(expected, bool):
        return str(actual).lower() in (("t", "true") if expected else ("f", "false"))
    if isinstance(expected, int):
        try:
            return int(actual) == expected
        except ValueError:
            pass
    if isinstance(expected, (int, float)):
        try:
            a = float(actual)
        except ValueError:
            return False
        return math.isclose(a, float(expected), rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return str(actual) == str(expected)


def compare_rows(actual, expected):
    """None when equal, else the first difference as text. Row order matters."""
    if actual is None:
        return "no result"
    if len(actual) != len(expected):
        return f"{len(actual)} rows, expected {len(expected)}"
    for i, (a, e) in enumerate(zip(actual, expected)):
        if len(a) != len(e):
            return f"row {i}: {len(a)} columns, expected {len(e)}"
        for j, (x, y) in enumerate(zip(a, e)):
            if not cell_equal(x, y):
                return f"row {i} column {j}: {x!r}, expected {y!r}"
    return None


def check_op(op, expected):
    """Compare one harness operation record with the oracle; None = correct."""
    kind = op["kind"]
    result = op["result"]
    if kind == "publish":
        written, per_shard = result
        totals = [sum(int(r[i]) for r in per_shard) for i in range(4)]
        totals.append(sum(float(r[4]) for r in per_shard))
        if int(written) != expected[0]:
            return f"publish reported {written} rows, expected {expected[0]}"
        # count, distinct keys, sum(k) and sum(k*k) all matching means every
        # key landed exactly once across the shards
        return compare_rows([[str(v) for v in totals]], [expected])
    return compare_rows(result, expected)


def percentile(samples, p):
    """Nearest-rank percentile (p in 0..100)."""
    s = sorted(samples)
    if not s:
        return None
    k = max(0, math.ceil(p / 100 * len(s)) - 1)
    return s[k]


def tail(samples, candidates=(99.9, 99, 95, 90)):
    """The highest percentile with at least ten samples beyond it, as
    (p, value); None when there are too few samples for any tail."""
    for p in candidates:
        v = percentile(samples, p)
        if v is not None and sum(1 for x in samples if x > v) >= 10:
            return p, v
    return None


def median(xs):
    return statistics.median(xs) if xs else None


def geomean(xs):
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None
