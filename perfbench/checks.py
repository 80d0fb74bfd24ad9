"""Correctness checks for one benchmark iteration.

Each check returns a list of problems; an empty list means the iteration's
output is correct. The checks take plain Python/pandas values so they can be
tested without Spark.
"""

from __future__ import annotations

import hashlib
import math
import numbers

import pandas as pd


def violation_problems(counts: dict[str, int], expected: dict[str, int]) -> list[str]:
    """Violation counts per check must equal the planted counts exactly."""
    return [
        f"{name}: {counts.get(name)} violations, planted {want}"
        for name, want in sorted(expected.items())
        if counts.get(name) != want
    ]


def verdict_problems(
    got: list[dict], want: list[dict], tol: float = 1e-9
) -> list[str]:
    """Drift verdicts must match the reference: same tests in the same order,
    scores within ``tol`` (absolute or relative) and identical ``is_drifted``."""
    if [v["test"] for v in got] != [v["test"] for v in want]:
        return [f"tests {[v['test'] for v in got]} != {[v['test'] for v in want]}"]
    problems = []
    for g, w in zip(got, want):
        if not math.isclose(g["score"], w["score"], rel_tol=tol, abs_tol=tol):
            problems.append(f"{g['test']}: score {g['score']!r} != {w['score']!r}")
        if bool(g["is_drifted"]) != bool(w["is_drifted"]):
            problems.append(f"{g['test']}: is_drifted {g['is_drifted']} != {w['is_drifted']}")
    return problems


def detection_problems(
    events: dict[str, pd.DataFrame],
    change_points: dict[str, int],
    min_share: float = 0.9,
) -> list[str]:
    """Drift must be reported after each key's planted change point.

    ``events`` maps a detector name to its output frame with ``key`` and
    ``seq`` columns; frames with a ``level`` column count only rows whose
    level is ``drift``, and frames without one (CUSUM) count every row.
    Every key must be flagged at or after its change point by at least one
    detector, and each detector must flag at least ``min_share`` of the keys:
    a detector that false-alarms just before the change resets and can miss
    it (DDM does so on a few keys in a hundred), so one detector alone is
    not required to catch every key.
    """
    caught: dict[str, set[str]] = {}
    for detector, frame in sorted(events.items()):
        hits = frame[frame["level"] == "drift"] if "level" in frame else frame
        last = hits.groupby("key")["seq"].max().to_dict()
        caught[detector] = {k for k, cp in change_points.items() if last.get(int(k), -1) >= cp}
    problems = [
        f"{detector}: drift after the change point on {len(keys)} of {len(change_points)} keys"
        for detector, keys in caught.items()
        if len(keys) < min_share * len(change_points)
    ]
    missed = sorted(set(change_points) - set().union(*caught.values()), key=int)
    if missed:
        problems.append(f"no detector reports drift after the change point on keys {missed}")
    return problems


def _canonical(value):
    """One spelling per value, whatever numpy or Python type holds it."""
    if isinstance(value, str):
        return value
    if isinstance(value, numbers.Integral):
        return int(value)
    if isinstance(value, numbers.Real):
        value = float(value)
        return "nan" if math.isnan(value) else value
    return repr(value)


def frame_summaries(frames: dict[str, pd.DataFrame]) -> dict[str, dict]:
    """Row count and order-independent digest of each named frame."""
    out = {}
    for name, frame in frames.items():
        cols = sorted(frame.columns)
        rows = sorted(
            tuple(_canonical(v) for v in row)
            for row in frame[cols].itertuples(index=False, name=None)
        )
        digest = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
        out[name] = {"rows": len(rows), "digest": digest}
    return out


def frames_problems(got: dict[str, pd.DataFrame], want: dict[str, dict]) -> list[str]:
    """Each output frame must hold exactly the expected rows (``want`` as
    given by ``frame_summaries`` on the reference frames)."""
    have = frame_summaries(got)
    if sorted(have) != sorted(want):
        return [f"frames {sorted(have)} != {sorted(want)}"]
    return [
        f"{name}: {have[name]['rows']} rows, digest {have[name]['digest'][:12]}; "
        f"expected {want[name]['rows']} rows, digest {want[name]['digest'][:12]}"
        for name in sorted(want)
        if have[name] != want[name]
    ]
