"""The benchmark's own arithmetic: percentiles, failure accounting, span
self time and the build's stage markers. Pure Python, no Spark, so the unit
tests in ``test_perfbench.py`` run in milliseconds."""

from __future__ import annotations

import json
import math
import statistics
from dataclasses import dataclass, field
from pathlib import Path

# A tail percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def nearest_rank(values, pct: float) -> float:
    """The ``pct``-th percentile by nearest rank: the smallest sample with
    at least ``pct`` percent of all samples at or below it."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(pct / 100.0 * len(vals)))
    return float(vals[rank - 1])


def tail_percentile(n: int, want: int = 95) -> int | None:
    """Highest whole percentile <= ``want`` that leaves at least MIN_BEYOND
    of ``n`` samples beyond it (nearest-rank), or None when no percentile
    above the median does.

    With the p-th percentile at rank ceil(p*n/100), the samples beyond it
    number n - rank, so the rule is ceil(p*n/100) <= n - MIN_BEYOND."""
    for p in range(want, 50, -1):
        if n - math.ceil(p * n / 100.0) >= MIN_BEYOND:
            return p
    return None


def latency_summary(values_ms) -> dict:
    """Median plus the tail percentile the sample count supports."""
    vals = list(values_ms)
    out = {"n": len(vals), "p50": median(vals) if vals else None,
           "tail_pct": tail_percentile(len(vals)), "tail": None}
    if out["tail_pct"] is not None:
        out["tail"] = nearest_rank(vals, out["tail_pct"])
    return out


def tail_line(summ: dict) -> str:
    """The query tail as the sample count allows: p95 when at least
    MIN_BEYOND samples lie beyond it, else the highest percentile that
    has them, always with the sample count."""
    if summ["tail_pct"] is None:
        return (f"query tail: n={summ['n']} samples, too few for any "
                f"percentile above the median with {MIN_BEYOND} beyond it")
    return (f"query_p{summ['tail_pct']}_ms={summ['tail']:.2f} ms "
            f"(n={summ['n']}; highest percentile <= 95 with >= "
            f"{MIN_BEYOND} samples beyond it)")


@dataclass
class Tally:
    """Attempted and failed operations. Every failure keeps its reason, so
    a failed request or output check is reported, never dropped."""
    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, reason: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.reasons.append(reason)

    def check(self, passed: bool, reason: str) -> bool:
        if passed:
            self.ok()
        else:
            self.fail(reason)
        return passed

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def self_times(spans) -> dict[int, float]:
    """span_id -> self time: the span's duration minus the part of it that
    its direct children cover. Children may overlap each other or stick out
    of the parent; only their union inside the parent is subtracted.

    ``spans``: objects with ``span_id``, ``parent``, ``start`` and ``end``."""
    kids: dict[int, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c.start, s.start), min(c.end, s.end))
                     for c in kids.get(s.span_id, ()))
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = (s.end - s.start) - covered
    return out


# Stages in the order `StagedIndexBuild.run(positions=True)` commits them.
BUILD_STAGES = ("docs", "term_doc_tf", "positions", "positions_packed",
                "stats", "packed", "merged")


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def stage_markers(root: Path) -> dict[str, dict]:
    """stage -> its ``_COMMITTED.json`` payload plus ``bytes`` on disk, for
    every committed stage under a `StagedIndexBuild` root. A marker without
    an integer ``wall_ms`` is malformed and raises."""
    out = {}
    for stage in BUILD_STAGES:
        marker = Path(root) / stage / "_COMMITTED.json"
        if not marker.is_file():
            continue
        payload = json.loads(marker.read_text())
        if not isinstance(payload.get("wall_ms"), int):
            raise ValueError(f"{marker}: no integer wall_ms")
        payload["bytes"] = dir_bytes(marker.parent)
        out[stage] = payload
    return out


def build_layer_metrics(markers: dict[str, dict], run_ms: float) -> dict:
    """Per-stage walls and bytes from the markers; ``build.overhead_ms`` is
    the outer ``run()`` wall minus the sum of the stage walls (lineage
    rows, commit writes and planning between stages)."""
    out = {}
    for stage in BUILD_STAGES:
        m = markers.get(stage)
        out[f"build.{stage}_ms"] = float(m["wall_ms"]) if m else 0.0
        out[f"build.{stage}_bytes"] = float(m["bytes"]) if m else 0.0
    out["build.overhead_ms"] = run_ms - sum(
        float(m["wall_ms"]) for m in markers.values())
    return out
