"""The benchmark's metric catalogue: name -> unit, in print order.

End-to-end metrics are reported by every workload, each with the
meaning its workload gives it (see BENCHMARK.json). Per-layer metrics
come from a traced run; a layer a workload does not exercise reads 0.
"""

from __future__ import annotations

WORKLOADS = ("wire_produce_fetch", "ingest_to_answer", "query_mix")

END_TO_END = {
    "setup_s": "s",
    "answer_s": "s",
    "peak_rss_mb": "MB",
}

QUERY_MIX = (
    "q01_pricing_summary",
    "q_events_sessions",
    "q_near_dup_jaccard_df_filtered",
    "q_cosine_topk",
    "q_stream_tumbling_counts",
)

# span-name prefix -> layer, named after the package's modules
SPAN_LAYER = {
    "server": "protocol.server",
    "broker": "protocol.broker",
    "records": "protocol.records",
    "topic_log": "sources.topic_log",
    "pyds": "sources.pyds",
    "streaming": "streaming.ops",
    "query": "queries",
}
LAYERS = tuple(SPAN_LAYER.values())

PER_LAYER = {
    "records.crc32c_bytes": "bytes",
    "records.crc32c_ms": "ms",
    "records.decode_ms": "ms",
    "records.encode_ms": "ms",
    "broker.produce_ms": "ms",
    "broker.fetch_ms": "ms",
    "broker.append_records": "records",
    "broker.fetch_records": "records",
    "broker.fetch_empty_ratio": "ratio",
    "server.requests": "count",
    "server.handle_ms_p50": "ms",
    "server.handle_ms_p99": "ms",
    "server.wait_ms_p50": "ms",
    "broker.flush_ms": "ms",
    "broker.flushes": "count",
    "broker.flush_records": "records",
    "topic_log.append_raw_ms": "ms",
    "topic_log.segment_files": "count",
    "pyds.stream_read_ms": "ms",
    "pyds.rows_read": "rows",
    "streaming.trigger_ms": "ms",
    "streaming.triggers": "count",
    "streaming.incremental_answer_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "client.records_per_s": "records/s",
    "client.latency_p50_ms": "ms",
    "client.latency_tail_ms": "ms",
    "generator.late_ms_max": "ms",
    "generator.delivery_p50_ms": "ms",
    "generator.delivery_tail_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.self_coverage_pct": "%",
}
for _layer in LAYERS:
    PER_LAYER[f"self.{_layer}_ms"] = "ms"
for _q in QUERY_MIX:
    PER_LAYER[f"query.{_q}_s"] = "s"
    PER_LAYER[f"query.{_q}.jobs"] = "count"
    PER_LAYER[f"query.{_q}.stages"] = "count"
    PER_LAYER[f"query.{_q}.tasks"] = "count"
