"""Pure accounting used by run.py: percentiles, open-loop latency and
error counting. Kept free of I/O so the tests can pin each rule."""
import math

TAIL_MIN = 10  # samples that must lie beyond a reported percentile


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q <= 1) of `values`."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = max(1, math.ceil(q * len(xs)))
    return xs[k - 1]


def highest_supported(n, tail=TAIL_MIN):
    """The highest percentile of n samples that has at least `tail` samples
    beyond it, or None when n <= tail."""
    if n <= tail:
        return None
    return (n - tail) / n


def supported(q, n, tail=TAIL_MIN):
    """True when percentile q of n samples has at least `tail` beyond it."""
    h = highest_supported(n, tail)
    return h is not None and q <= h + 1e-12


def summary(values, qs):
    """Percentiles `qs` of `values` with the sample count behind them,
    whether each is supported by the tail rule, and the value at the highest
    supported percentile."""
    h = highest_supported(len(values))
    out = {"n": len(values), "highest_supported": h,
           "at_highest_supported": percentile(values, h) if h else None}
    for q in qs:
        out[f"p{round(q * 100):d}"] = percentile(values, q)
        out[f"p{round(q * 100):d}_supported"] = supported(q, len(values))
    return out


def tail_over_medians(summ, medians, q):
    """`summ` (a summary()) with its percentile q replaced by the
    nearest-rank q-quantile of per-item medians, and the count behind it."""
    key = f"p{round(q * 100):d}"
    out = dict(summ)
    out[key] = percentile(medians, q)
    out[f"{key}_over_item_medians"] = len(medians)
    out[f"{key}_supported"] = supported(q, len(medians))
    return out


def open_loop(rows, measure_from_ns=0):
    """Accounting for an open-loop feed.

    `rows` are (trade_id, due_ns, sent_ns, emit_ns, emit_count), times
    relative to the start of the live feed; due and sent are -1 for backlog
    events (they have no due time), emit is -1 for an event never emitted.
    Latency runs from the due time, not the send time, so a late generator
    cannot hide queueing. Latency and lateness are taken for events due at
    or after `measure_from_ns` (the warm-in before it is not measured);
    every event counts towards missing and duplicated. Returns emit
    latencies (ms), generator lateness (ms), and those counts.
    """
    emit_ms, late_ms = [], []
    missing = dup = 0
    for _tid, due, sent, emit, count in rows:
        if count == 0:
            missing += 1
        elif count > 1:
            dup += 1
        if due >= measure_from_ns and due >= 0:
            late_ms.append((sent - due) / 1e6)
            if count > 0:
                emit_ms.append((emit - due) / 1e6)
    return {"emit_ms": emit_ms, "late_ms": late_ms, "missing": missing,
            "duplicated": dup, "events": len(rows)}


def error_rate(attempted, failed):
    """Failed or wrong operations over operations attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def stream_failures(acct, value_mismatches, late_dropped):
    """Events counted as failed in a stream run: each missing, duplicated
    or wrong-valued event once; rows dropped as late count in full."""
    bad = acct["missing"] + acct["duplicated"] + value_mismatches + late_dropped
    return min(acct["events"], bad)


def digest_failures(expected, got):
    """Queries whose digest is absent or differs from the expected one."""
    return sorted(n for n in expected if got.get(n) != expected[n])
