"""Metric definitions (names and units as in ``BENCHMARK.json``) and
their computation from one run's measurements."""

from __future__ import annotations

import statistics

from .workloads import QUERIES, RETRIEVAL_KINDS

END_TO_END = {
    "setup_s": "s",          # median of three session starts + first-use work
    "unit_p50_s": "s",       # median seconds per unit of work
    "items_per_s": "1/s",    # files, documents or requests per second
}

_SPAN_TIMES = {
    "session.start_s": "session.start",
    "session.warmup_s": "session.warmup",
    "sources.list_files_s": "sources.list_files",
    "sources.sinks.write_s": "sources.sinks.write",
    "crawler.collect_s": "crawler.collect",
    "crawler.collect_fs_s": "crawler.collect_fs",
    "crawler.read_records_s": "crawler.read_records",
    "pool.list_s": "pool.list",
    "pool.transform_s": "pool.transform",
    "pool.accumulate_s": "pool.accumulate",
}
for _q in RETRIEVAL_KINDS:
    _base = f"operators.{QUERIES[_q].__module__.rsplit('.', 1)[1]}.{_q}"
    _SPAN_TIMES[f"{_base}.build_s"] = f"{_base}.build"
    _SPAN_TIMES[f"{_base}.run_s"] = f"{_base}.run"

_COUNTERS = {
    "session.jobs": ("session.jobs", "count"),
    "session.stages": ("session.stages", "count"),
    "session.tasks": ("session.tasks", "count"),
    "sources.files_listed": ("sources.files_listed", "count"),
    "sources.sinks.bytes_written": ("sources.sinks.bytes_written", "B"),
    "crawler.corrupt_files": ("crawler.corrupt_files", "count"),
    "pool.partials_rows": ("pool.partials_rows", "count"),
    "operators.dedup.kept_ratio": ("operators.dedup.kept_ratio", "ratio"),
    "streaming.batches": ("streaming.batches", "count"),
    "streaming.batch_p50_s": ("streaming.batch_s", "s"),
    "streaming.add_batch_s": ("streaming.add_batch_s", "s"),
    "streaming.state_rows": ("streaming.state_rows", "count"),
    "streaming.state_mb": ("streaming.state_mb", "MB"),
}

SELF_LAYERS = ("bench", "sources", "crawler", "pool", "operators", "streaming")

PER_LAYER = {**{k: "s" for k in _SPAN_TIMES},
             **{k: unit for k, (_, unit) in _COUNTERS.items()},
             **{f"{layer}.self_s": "s" for layer in SELF_LAYERS},
             "session.peak_rss_mb": "MB",
             "trace.unit_p50_s": "s",
             "trace.items_per_s": "1/s",
             "trace.overhead_s": "s"}


def median(xs) -> float:
    """Median, 0.0 for a layer with no samples."""
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tracer, counters: dict, passes: int) -> dict[str, float]:
    """Every ``PER_LAYER`` value; a layer the workload never calls
    reads 0.  Times are medians per call, counts medians per record,
    self times and tracing overhead are per pass."""
    out = {name: median(tracer.durations(span)) for name, span in _SPAN_TIMES.items()}
    for name, (key, _) in _COUNTERS.items():
        out[name] = median(counters.get(key, []))
    self_t = tracer.self_time_by_layer()
    for layer in SELF_LAYERS:
        out[f"{layer}.self_s"] = self_t.get(layer, 0.0) / max(1, passes)
    out["trace.overhead_s"] = tracer.overhead_s / max(1, passes)
    return out
