"""Pure arithmetic behind the benchmark's reported numbers (no Spark)."""

from __future__ import annotations

from collections.abc import Iterable, Sequence

# A tail percentile is reported only where at least this many samples lie
# beyond it, so one outlier cannot be the whole tail.
TAIL_BEYOND = 10


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest nearest-rank percentile that
    has at least ``beyond`` samples above its rank.

    With n samples sorted ascending, rank r = n - beyond (1-based) leaves
    exactly ``beyond`` samples after it; its percentile is 100 * r / n.
    Fewer than ``beyond + 1`` samples support no such percentile: the
    maximum is returned with percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    r = n - beyond
    if r < 1:
        return xs[-1], 100.0, n
    return xs[r - 1], 100.0 * r / n, n


def owner(named: Iterable[tuple[str, float]], value: float) -> str:
    """The name of the first (name, value) pair holding ``value``."""
    return next(name for name, v in named if v == value)


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of [start, end] its children cover.

    Children are clipped to the parent and overlapping children are
    counted once (their union), so the result is never negative.
    """
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def fail_ratio(outcomes: Iterable[str]) -> tuple[int, int, float]:
    """(attempted, failed, ratio) over execution outcomes.

    An outcome is ``"ok"`` or a failure kind: ``"raise"``, ``"timeout"`` or
    ``"mismatch"``. Each failure kind counts once per execution.
    """
    attempted = failed = 0
    for o in outcomes:
        attempted += 1
        if o != "ok":
            failed += 1
    return attempted, failed, (failed / attempted if attempted else 0.0)

