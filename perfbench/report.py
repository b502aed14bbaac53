"""Metric definitions and the end-to-end figures of a run."""

from __future__ import annotations

import json
import os

from . import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def definitions(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the ``end_to_end`` or ``per_layer`` metrics, as
    BENCHMARK.json at the repository root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def end_to_end(res, rss_mb: float) -> dict:
    """The end-to-end figures of one run (a :class:`RunResult`)."""
    pct, tail, n = stats.tail(res.commit_ms)
    return {
        "setup_s": stats.median(res.setup_s),
        "setup_cold_s": res.setup_s[0],
        "setup_restart_s": res.setup_s[1:],
        "commit_p50_ms": stats.median(res.commit_ms),
        # the >=10-beyond rule over a run's 12-20 commits cuts below p50:
        # reported, never bounded
        "commit_rule_ms": tail,
        "commit_rule_pct": pct,
        "commit_max_ms": max(res.commit_ms),
        "commit_samples": n,
        "rows_s": res.log_rows / sum(res.commit_ms) * 1000,
        "snapshot_rows_s": stats.median(res.load_rows_s),
        "load_rows_s": res.load_rows_s,
        "read_p50_ms": stats.median(res.read_ms),
        "read_samples": len(res.read_ms),
        "space_amp": res.space_amp,
        "peak_rss_mb": rss_mb,
    }


def metrics(kind: str, values: dict) -> dict:
    """The result line's metrics: every metric of ``kind``; a per-layer
    metric of a module the workload does not touch reads 0."""
    return {name: {"value": values.get(name, 0), "unit": unit}
            for name, unit in definitions(kind)}
