"""Pure functions that turn stamped logs into benchmark metrics.

Nothing here touches Spark or the file system, so every rule the
benchmark reports by is unit-tested in ``test_perfbench.py``.
"""

from __future__ import annotations

import math
import statistics

#: A tail percentile must have at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def tail_pct(n_expected: int, step: int = 5) -> int:
    """The highest percentile (a multiple of ``step``) that leaves at
    least ``TAIL_MIN_BEYOND`` of ``n_expected`` samples beyond it.
    Used once, at the chosen run length, to fix each workload's tail
    percentile as a constant. Returns 0 when the sample is too small
    for any tail."""
    if n_expected <= TAIL_MIN_BEYOND:
        return 0
    p = math.floor(100 * (1 - TAIL_MIN_BEYOND / n_expected) / step) * step
    return max(0, min(p, 100 - step))


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile ((n-1)*p rule, as numpy's default)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return statistics.geometric_mean(values)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of that
    interval its direct children cover. Children may overlap each
    other (concurrent ingest families), so their union is subtracted,
    clipped to the parent's interval. Spans are dicts with ``id``,
    ``parent`` (id or None), ``start`` and ``end``."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        out[s["id"]] = (s["end"] - s["start"]) - covered(
            s["start"], s["end"], children.get(s["id"], [])
        )
    return out


def covered(start: float, end: float, spans: list[dict]) -> float:
    """Length of the union of ``spans`` intervals clipped to [start, end]."""
    ivs = sorted(
        (max(start, s["start"]), min(end, s["end"]))
        for s in spans
        if s["end"] > start and s["start"] < end
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def batch_of_release(
    releases: list[dict], file_epoch: dict[str, int]
) -> dict[int, int]:
    """Epoch in which each release became fully consumed: the latest
    epoch among its files (a reorg release is a marker file plus the
    new-chain file, which the file source may split across triggers).
    Releases with a file no epoch consumed are left out."""
    out = {}
    for i, r in enumerate(releases):
        epochs = [file_epoch.get(f) for f in r["files"]]
        if epochs and all(e is not None for e in epochs):
            out[i] = max(epochs)
    return out


def freshness(
    releases: list[dict],
    file_epoch: dict[str, int],
    swaps: list[tuple[int, float]],
) -> dict[int, float]:
    """Per-release freshness: from the release's *due* time to the end
    of the first operational refresh (the swap of the last operational
    view) of an epoch at or after the one that consumed it.

    ``releases``: dicts with ``due`` (epoch seconds) and ``files``.
    ``file_epoch``: feed file name -> streaming epoch that read it.
    ``swaps``: (epoch, wall time the refresh returned), any order.
    Returns release index -> seconds. A release never made visible
    has no entry; the caller counts it as a failed operation."""
    swaps = sorted(swaps)
    out = {}
    for i, epoch in sorted(batch_of_release(releases, file_epoch).items()):
        seen = [t for e, t in swaps if e >= epoch]
        if seen:
            out[i] = seen[0] - releases[i]["due"]
    return out


def visible_blocks_per_s(
    releases: list[dict],
    file_epoch: dict[str, int],
    swaps: list[tuple[int, float]],
) -> float:
    """Blocks made visible per second over the window: the slope of the
    visible head block between the first and the last refresh that
    made new blocks visible. Each refresh's head is the highest *new*
    block (``releases[i]["head"]``) among releases consumed at or
    before its epoch; re-emitted reorg blocks add nothing. While the
    daemon keeps up this equals the offered block rate; when the
    backlog grows it falls below it."""
    consumed = batch_of_release(releases, file_epoch)
    points = []
    for epoch, t in sorted(swaps):
        heads = [releases[i]["head"] for i, e in consumed.items() if e <= epoch]
        if heads:
            points.append((t, max(heads)))
    # keep the first refresh at each head: later refreshes at the same
    # head (empty or reorg-only batches) would stretch the interval
    firsts = []
    for t, h in points:
        if not firsts or h > firsts[-1][1]:
            firsts.append((t, h))
    if len(firsts) < 2:
        raise ValueError("need two refreshes that advance the head")
    (t0, h0), (t1, h1) = firsts[0], firsts[-1]
    return (h1 - h0) / (t1 - t0)


def backlog_at_triggers(
    releases: list[dict],
    file_epoch: dict[str, int],
    trigger_starts: dict[int, float],
) -> list[int]:
    """Feed files waiting at each trigger's start: released (``actual``
    time) before the trigger began and not consumed by an earlier
    epoch."""
    out = []
    for epoch, t in sorted(trigger_starts.items()):
        n = 0
        for r in releases:
            for f in r["files"]:
                e = file_epoch.get(f)
                if r["actual"] <= t and (e is None or e >= epoch):
                    n += 1
        out.append(n)
    return out
