"""The benchmark's metric catalogue, and how each value is computed
from one run.  ``BENCHMARK.json`` lists the same names and units
(``perfbench/tests/test_perfbench.py`` keeps them in step)."""

from __future__ import annotations

import statistics

from perfbench import trace

# name -> (unit, better).  Printed by every untraced run, on every
# workload.  ``write`` is the workload's write operation: a from-scratch
# build on ``build``, one delta (upsert plus refresh) on ``refresh``;
# a run times one (``write_s``), so compare medians over runs.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "write_s": ("s", "lower"),
    "lookup_p50_ms": ("ms", "lower"),
    "conv_p50_ms": ("ms", "lower"),
}

SPANS = (
    "extract", "link", "canonicalize", "materialize", "entities",
    "io.upsert_raw", "refresh",
    "io.lookup", "io.conv", "graph.hop2", "graph.rank",
)

LAYER_COUNTS = {
    "pipeline.self_s": ("s", "lower"),
    "extract.turns_in": ("count", "higher"),
    "extract.triples_out": ("count", "higher"),
    "extract.reject_frac": ("ratio", "lower"),
    "link.surfaces_in": ("count", "higher"),
    "link.linked_frac": ("ratio", "higher"),
    "canonicalize.components": ("count", "lower"),
    "io.write_amp": ("ratio", "lower"),
    "io.files_written": ("count", "lower"),
    "io.conv_read_frac": ("ratio", "lower"),
    "refresh.buckets_touched": ("count", "lower"),
    "refresh.rows_rewritten_per_changed_conv": ("count", "lower"),
    "refresh.links_changed_frac": ("ratio", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

# Printed by every traced run, on every workload.  A span the workload
# never enters reads 0: ``extract.busy_s`` is 0 on ``refresh``.
PER_LAYER = {
    **{
        f"{span}.{counter}": (unit, "lower")
        for span in SPANS
        for counter, unit in trace.SPAN_COUNTERS.items()
    },
    **LAYER_COUNTS,
}

def _median(values: list[float]) -> float:
    # a run whose every operation of one kind failed reports 0 for it;
    # its `failed` count already rejects it
    return statistics.median(values) if values else 0.0


def _times(lat: dict[str, list[float]], setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "write_s": _median(lat["write"]),
        **{f"{k}_p50_ms": 1000.0 * _median(lat[k]) for k in ("lookup", "conv")},
    }


def end_to_end(
    run, setup_s: float, setup_unstolen_s: float, peak_rss_mb: float
) -> tuple[dict, dict]:
    """(metrics, details).  The gated times leave out the share of each
    operation's wall the host stole (``workloads.since``); the details
    keep the same times as measured on the wall clock, sample counts,
    the slowest write, the write throughput in turns/s and the failed
    share."""
    lat = run.lat
    metrics = {**_times(run.unstolen, setup_unstolen_s), "peak_rss_mb": peak_rss_mb}
    wall = _times(lat, setup_s)
    details = {
        "wall": wall,
        "samples": {k: len(v) for k, v in sorted(lat.items())},
        "write_max_s": max(lat["write"], default=0.0),
        "write_turns_per_s": (
            _median(run.write_turns) / wall["write_s"] if wall["write_s"] else 0.0
        ),
        "failed_frac": run.failed / max(run.attempted, 1),
        "deltas_with_links_changed": sum(r.links_changed for r, _ in run.refreshes),
    }
    return {k: metrics[k] for k in END_TO_END}, details


def per_layer(run, stages: list[trace.StageStats]) -> dict:
    tracer = run.tracer
    out = {}
    for span in SPANS:
        for counter, value in trace.median_counters(tracer, span, stages).items():
            out[f"{span}.{counter}"] = value
    counts = dict(run.counts)
    conv_spans = tracer.named("io.conv")
    if conv_spans:
        counts["io.conv_read_frac"] = statistics.median(
            sum(s.input_mb for s in trace.stages_in(span, stages)) / run.triples_mb
            for span in conv_spans
        )
    refreshes = [r for r, traced in run.refreshes if traced]
    if refreshes:
        rewritten = [
            sum(s.output_rows for s in trace.stages_in(span, stages)) / max(r.n_changed, 1)
            for span, r in zip(tracer.named("refresh"), refreshes)
        ]
        counts.update({
            "refresh.buckets_touched": statistics.median(
                r.n_buckets_touched for r in refreshes
            ),
            "refresh.rows_rewritten_per_changed_conv": statistics.median(rewritten),
            "refresh.links_changed_frac": (
                sum(r.links_changed for r in refreshes) / len(refreshes)
            ),
        })
    for name in LAYER_COUNTS:
        out[name] = float(counts.get(name, 0.0))
    return out
