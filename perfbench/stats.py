"""Order statistics for the op log."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def tail(xs) -> dict | None:
    """The highest percentile with at least ten samples beyond it, with
    its sample count; None while fewer than 20 samples put it below the
    median."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return None
    return {"pct": 100.0 * (n - 10) / n, "value": xs[n - 11], "n": n}


def summary(xs) -> dict:
    xs = list(xs)
    return {"n": len(xs), "p50": median(xs), "tail": tail(xs)}


def group(ops: list[dict], key: str) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for o in ops:
        if o["ok"]:
            out.setdefault(o[key], []).append(o["ms"])
    return out


def mix_rate(by_kind: dict[str, list[float]]) -> float:
    """Ops per second of one client running every kind equally often:
    the number of kinds over the sum of their mean latencies (ms). Unlike
    ops over the window's wall time, it does not depend on which kinds a
    window that ends mid-pass happened to hold."""
    total_ms = sum(statistics.fmean(v) for v in by_kind.values() if v)
    return 1000.0 * len(by_kind) / total_ms if total_ms > 0 else 0.0
