"""Helpers shared by run.py and its tests: percentiles, the result line,
failure accounting and the oracle comparison."""
import json
import math

# Fewest samples a reported percentile must leave beyond it.
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(p / 100.0 * len(s)) - 1))
    return s[k]


def median(values):
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def reportable(n, p):
    """True when a p-th percentile of n samples has at least MIN_BEYOND
    samples beyond it."""
    return n * (100.0 - p) >= MIN_BEYOND * 100.0 - 1e-9


def tail(values, candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)):
    """(p, value) for the highest candidate percentile that `reportable`
    allows, or None when even the median is not."""
    for p in candidates:
        if reportable(len(values), p):
            return p, percentile(values, p)
    return None


class Ledger:
    """Operations attempted and failed; each failure keeps its cause."""

    def __init__(self, attempted=0, failures=()):
        self.attempted = attempted
        self.failures = list(failures)

    def check(self, op, ok, cause=""):
        self.attempted += 1
        if not ok:
            self.failures.append({"op": op, "error": cause or "check failed"})
        return ok

    @property
    def failed(self):
        return len(self.failures)

    @property
    def error_rate(self):
        return self.failed / self.attempted if self.attempted else 1.0


def metric(value, unit):
    if value is None or not math.isfinite(float(value)):
        raise ValueError("metric value must be a finite number")
    return {"value": float(value), "unit": unit}


def result_line(ledger, metrics):
    """The one-line JSON result: exactly correct, attempted, failed and
    metrics, every metric a {value, unit} pair."""
    for name, m in metrics.items():
        if set(m) != {"value", "unit"} or not m["unit"]:
            raise ValueError("metric %s needs a value and a unit" % name)
    return json.dumps({
        "correct": ledger.failed == 0,
        "attempted": max(1, int(ledger.attempted)),
        "failed": int(ledger.failed),
        "metrics": metrics,
    }, separators=(",", ":"))


def frames_equal(got, want):
    """Compare two pandas frames as the repository's oracle check does:
    sorted columns, sorted rows, exact values (dtype gaps compared as
    strings). Returns (ok, reason)."""
    g = got.reindex(sorted(got.columns), axis=1)
    w = want.reindex(sorted(want.columns), axis=1)
    if list(g.columns) != list(w.columns):
        return False, "columns %s vs %s" % (list(g.columns), list(w.columns))
    if len(g) != len(w):
        return False, "rows %d vs %d" % (len(g), len(w))
    g = g.sort_values(by=list(g.columns)).reset_index(drop=True)
    w = w.sort_values(by=list(w.columns)).reset_index(drop=True)
    for c in g.columns:
        gc, wc = g[c], w[c]
        if gc.dtype != wc.dtype:
            gc, wc = gc.astype(str), wc.astype(str)
        if not gc.equals(wc):
            diff = (gc != wc) & ~(gc.isna() & wc.isna())
            i = diff.idxmax()
            return False, "col %s differs at row %d: %r vs %r" % (
                c, i, gc[i], wc[i])
    return True, ""
