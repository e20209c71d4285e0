"""Per-layer metrics from a traced run's spans, and the layer -> end-to-end
metric map they are read against."""

from __future__ import annotations

from collections import defaultdict

from common import median
from spans import MATERIALIZERS, job_counts, self_times

#: per-layer metric -> (unit, better, layer, e2e metric it should move,
#: workloads where it moves). Every traced run reports every entry; a
#: workload that never enters a layer reports that layer's work as 0.
PER_LAYER = {
    "session.start_s": ("s", "lower", "session", "setup_s", "all"),
    "sources.load_tables_s": ("s", "lower", "sources", "setup_s", "interactive, ingest"),
    "sources.write_s": ("s", "lower", "sources", "throughput_rps", "ingest"),
    "sources.files_written": ("count", "lower", "sources", "latency_p50_ms", "ingest"),
    "sources.bytes_written": ("bytes", "lower", "sources", "throughput_rps", "ingest"),
    "sources.metadata_ms": ("ms", "lower", "sources", "latency_p50_ms", "ingest"),
    "sources.footers_per_request": ("count", "lower", "sources", "latency_p50_ms", "ingest"),
    "service.schema.build_s": ("s", "lower", "service.schema", "setup_s", "interactive, ingest"),
    "service.schema.types": ("count", "lower", "service.schema", "setup_s", "interactive, ingest"),
    "service.asgi.dispatch_wait_ms": ("ms", "lower", "service.asgi", "latency_p95_ms",
                                      "interactive"),
    "service.parse_validate_ms": ("ms", "lower", "service", "latency_p50_ms", "interactive"),
    "service.resolve_self_ms": ("ms", "lower", "service", "latency_p50_ms", "interactive"),
    "sqlrender.to_sql_ms": ("ms", "lower", "sqlrender", "latency_p50_ms", "interactive"),
    "dataset.jobs_per_request": ("count", "lower", "dataset", "throughput_rps",
                                 "interactive, ingest"),
    "dataset.tasks_per_request": ("count", "lower", "dataset", "throughput_rps",
                                  "interactive, ingest"),
    "dataset.materialize_ms": ("ms", "lower", "dataset", "latency_p95_ms", "interactive"),
    "dataset.persist_per_request": ("count", "lower", "dataset", "throughput_rps",
                                    "interactive"),
    "dataset.persist_ms": ("ms", "lower", "dataset", "throughput_rps", "interactive"),
    "dataset.fast_path_ratio": ("ratio", "higher", "dataset", "latency_p50_ms", "ingest"),
    "dataset.tasks_per_query": ("count", "lower", "dataset", "throughput_rps", "batch"),
    "write_rows_per_s": ("rows/s", "higher", "sources", "throughput_rps", "ingest"),
    "bytes_written_per_input_byte": ("ratio", "lower", "sources", "throughput_rps", "ingest"),
    "freshness_ms": ("ms", "lower", "service.schema", "latency_p95_ms", "ingest"),
    "batch_wall_s": ("s", "lower", "operators", "throughput_rps", "batch"),
    "trace.overhead_pct": ("%", "lower", "trace", "latency_p50_ms", "all"),
}

#: batch suite callables -> the layer whose code each one exercises
BATCH_QUERIES = {
    "q1_pricing_summary": "dataset",
    "q18_large_orders": "dataset",
    "join_star_broadcast": "dataset",
    "asof_join_events": "operators",
    "pagerank_suppliers": "operators",
    "dedup_minhash": "llm",
    "similarity_ivf": "llm",
    "retrieval_bm25": "llm",
    "text_quality": "llm",
    "stream_tumbling_window": "streaming",
}
for _query, _layer in BATCH_QUERIES.items():
    PER_LAYER[f"{_layer}.{_query}_s"] = ("s", "lower", _layer, "throughput_rps", "batch")


def request_layers(spark, tracer, key_requests=frozenset()) -> dict[str, float]:
    """Request-path metrics over the traced requests (request ids ``r*``).
    ``key_requests`` names the partition-key requests for the fast-path
    ratio and the metadata figures."""
    spans = tracer.spans
    selfs = self_times(spans)
    by_id = {s[0]: s for s in spans}
    per: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    asgi_start: dict[str, float] = {}
    to_sql: list[float] = []
    for sid, name, start, end, parent, rid in spans:
        if not rid:
            continue
        row = per[rid]
        if name == "service.asgi":
            asgi_start[rid] = start
        elif name == "service.run":
            row["run_start"] = start
            row["resolve_self"] += selfs[sid]
        elif name in ("service.parse", "service.validate"):
            row["parse_validate"] += end - start
        elif name == "sqlrender.to_sql":
            to_sql.append(end - start)
        elif name in ("dataset.persist", "dataset.unpersist"):
            row["persist"] += end - start
            row["persists"] += name == "dataset.persist"
        elif name.startswith("dataset.") and name[8:] in MATERIALIZERS:
            outer = by_id.get(parent)
            if not (outer and outer[1].startswith("dataset.") and outer[1][8:] in MATERIALIZERS):
                row["materialize"] += end - start
        elif name == "sources.partition_file_counts":
            row["metadata"] += end - start
            row["footers"] += tracer.counts.get(sid, 0)
    rids = [rid for rid in per if rid in asgi_start and "run_start" in per[rid]]
    jobs = job_counts(spark, rids)
    n = max(len(rids), 1)
    keys = [rid for rid in rids if rid in key_requests]
    k = max(len(keys), 1)
    return {
        "service.asgi.dispatch_wait_ms": 1e3 * median(
            [per[r]["run_start"] - asgi_start[r] for r in rids]),
        "service.parse_validate_ms": 1e3 * median([per[r]["parse_validate"] for r in rids]),
        "service.resolve_self_ms": 1e3 * median([per[r]["resolve_self"] for r in rids]),
        "sqlrender.to_sql_ms": 1e3 * median(to_sql),
        "dataset.jobs_per_request": sum(jobs[r][0] for r in rids) / n,
        "dataset.tasks_per_request": sum(jobs[r][1] for r in rids) / n,
        "dataset.materialize_ms": 1e3 * sum(per[r]["materialize"] for r in rids) / n,
        "dataset.persist_per_request": sum(per[r]["persists"] for r in rids) / n,
        "dataset.persist_ms": 1e3 * sum(per[r]["persist"] for r in rids) / n,
        "dataset.fast_path_ratio": sum(jobs[r][0] == 0 for r in keys) / k,
        "sources.metadata_ms": 1e3 * sum(per[r]["metadata"] for r in keys) / k,
        "sources.footers_per_request": sum(per[r]["footers"] for r in keys) / k,
    }


def self_ms_by_span(tracer) -> dict[str, float]:
    """Span name -> total self time in ms over the traced run."""
    out: dict[str, float] = defaultdict(float)
    selfs = self_times(tracer.spans)
    for sid, name, *_rest in tracer.spans:
        out[name] += 1e3 * selfs[sid]
    return dict(sorted(out.items()))


def span_durations(tracer, name: str) -> list[float]:
    return [end - start for _sid, n, start, end, _p, _r in tracer.spans if n == name]


def overhead_pct(operations) -> float:
    """Mean traced operation time over mean untraced operation time, as a
    percentage above 1 (``operations``: (start, end, traced))."""
    on = [e - s for s, e, traced in operations if traced]
    off = [e - s for s, e, traced in operations if not traced]
    if not on or not off:
        return 0.0
    return 100.0 * ((sum(on) / len(on)) / (sum(off) / len(off)) - 1.0)
