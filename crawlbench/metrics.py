"""Metric names, units and how each is computed from a run.

`BENCHMARK.json` at the repository root lists the same names; a test
holds the two together.
"""

from __future__ import annotations

import statistics

import kernels
from spans import Tracer

# name -> (unit, better)
END_TO_END = {
    "items_per_s": ("1/s", "higher"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

PLAN_QUERIES = (
    "generate_topn", "perhost_topk", "merge_lastwins", "inject_antijoin",
    "image_decode_verify", "phash_neardup_banded", "image_features_fused",
    "caption_dedup", "winnow_fingerprint", "substring_span_dedup",
    "exact_substr_spans",
)

PER_LAYER = {
    **{k: ("ms", "lower") for k in kernels.METRICS},
    "generate.s": ("s", "lower"),
    "generate.rows": ("count", "higher"),
    "generate.jobs": ("count", "lower"),
    "fetch.s": ("s", "lower"),
    "fetch.rows": ("count", "higher"),
    "fetch.failed": ("count", "lower"),
    "fetch.not_modified": ("count", "higher"),
    "fetch.pairs": ("count", "higher"),
    "fetch.failed_tasks": ("count", "lower"),
    "fetch.overhead_ms_per_url": ("ms", "lower"),
    "parse.s": ("s", "lower"),
    "parse.links": ("count", "higher"),
    "seen.build_s": ("s", "lower"),
    "seen.filter_s": ("s", "lower"),
    "seen.kept_ratio": ("ratio", "lower"),
    "store.load_s": ("s", "lower"),
    "store.merge_s": ("s", "lower"),
    "store.new_links": ("count", "higher"),
    "store.bytes_written_mb": ("MB", "lower"),
    "recrawl.schedule_s": ("s", "lower"),
    "recrawl.rows": ("count", "higher"),
    "crawler.round_s": ("s", "lower"),
    "crawler.unattributed_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    **{f"plans.{q}_s": ("s", "lower") for q in PLAN_QUERIES},
    "trace.overhead_ratio": ("ratio", "lower"),
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _pass_values(tr: Tracer, root) -> dict[str, float]:
    """Per-layer values of one traced pass (sums over its rounds)."""
    t = tr.totals(root)

    def g(name: str, key: str = "s") -> float:
        return float(t.get(name, {}).get(key, 0.0))

    cand = g("seen.filter", "candidates")
    return {
        "generate.s": g("generate"),
        "generate.rows": g("generate", "rows"),
        "generate.jobs": g("generate", "jobs"),
        "fetch.s": g("fetch"),
        "fetch.rows": g("fetch", "rows"),
        "fetch.failed": g("fetch", "failed"),
        "fetch.not_modified": g("fetch", "not_modified"),
        "fetch.pairs": g("fetch", "pairs"),
        "fetch.failed_tasks": g("fetch", "failed_tasks"),
        "parse.s": g("parse"),
        "parse.links": g("parse", "links"),
        "seen.build_s": g("seen.build"),
        "seen.filter_s": g("seen.filter"),
        # links kept by the seen filter / links it was given; 1 when the
        # filter is gated off and every candidate goes to the merge
        "seen.kept_ratio": g("seen.filter", "kept") / cand if cand else 1.0,
        "store.load_s": g("store.load"),
        "store.merge_s": g("store.merge"),
        "store.new_links": g("store.merge", "new_links"),
        "store.bytes_written_mb": g("store.merge", "bytes_written") / (1 << 20),
        "recrawl.schedule_s": g("recrawl.schedule"),
        "recrawl.rows": g("recrawl.schedule", "rows"),
        "crawler.unattributed_s": g("round", "self_s"),
        **{f"plans.{q}_s": g(f"plans.{q}") for q in PLAN_QUERIES},
    }


def per_layer(
    tr: Tracer,
    roots: list,
    kernel: dict[str, float] | None,
    cores: int,
    untraced_walls: list[float],
    untraced_round_s: list[float],
    session_start_s: float,
) -> dict[str, float]:
    """Every per-layer metric: medians over the traced passes (`roots`
    are their top spans), the kernel level, and the untraced passes of
    the same run for the round wall and the tracing overhead."""
    per_pass = [_pass_values(tr, r) for r in roots]
    out = {k: _median(p[k] for p in per_pass) for k in per_pass[0]}
    kernel = kernel or {k: 0.0 for k in kernels.METRICS}
    out.update(kernel)
    # fetch stage cost per URL per core, minus what the engine's kernels
    # account for: conversion, scheduling, contention and the load
    # generator (requester.fetch_ms, reported apart so it can be taken out)
    out["fetch.overhead_ms_per_url"] = _median(
        p["fetch.s"] * cores * 1000.0 / p["fetch.rows"] - kernel[kernels.KERNEL_SUM]
        for p in per_pass if p["fetch.rows"]
    )
    out["crawler.round_s"] = _median(untraced_round_s)
    out["session.start_s"] = session_start_s
    traced = _median(r.duration for r in roots)
    untraced = _median(untraced_walls)
    out["trace.overhead_ratio"] = traced / untraced - 1.0 if untraced else 0.0
    return {k: out[k] for k in PER_LAYER}
