"""The metric catalogue; ``BENCHMARK.json`` lists the same names."""

from __future__ import annotations

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "peak_rss_mb", "unit": "MB", "better": "lower", "bound": 0.1},
    {"name": "throughput_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    {"name": "latency_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "latency_tail_s", "unit": "s", "better": "lower", "bound": 0.25},
]

LOOKUP_SHAPES = (
    "tx_by_signature",
    "recent_by_signer",
    "slot_range",
    "type_distribution",
    "failed_in_range",
    "block_with_txs",
    "account_activity",
    "top_programs",
)

CATALOG_MODULES = (
    "operators.tpch",
    "operators.analytics",
    "functions.hashing",
    "functions.similarity",
    "functions.text",
    "pipelines",
)

# layers that carry spans; the micro-batch engine's time comes from
# recentProgress instead (stream.*)
SELF_LAYERS = ("bench", "rpc", "extract", "load", "lookup", "catalog")


def _m(name, unit, better="lower"):
    return {"name": name, "unit": unit, "better": better}


PER_LAYER = [
    _m("session.start_s", "s"),
    _m("session.warmup_s", "s"),
    _m("rpc.read_s", "s"),
    _m("rpc.blocks_per_s", "1/s", "higher"),
    _m("rpc.requests", "count"),
    _m("rpc.skipped_slots", "count"),
    _m("rpc.useful_ratio", "ratio", "higher"),
    _m("rpc.inflight_peak", "count", "higher"),
    _m("rpc.node_wait_share", "ratio"),
    _m("rpc.response_mb", "MB"),
    _m("extract.transactions_s", "s"),
    _m("extract.tx_per_s", "1/s", "higher"),
    _m("extract.blocks_s", "s"),
    _m("extract.stats_s", "s"),
    _m("load.upsert_s", "s"),
    _m("load.bytes_written_mb", "MB"),
    _m("load.write_amp", "ratio"),
    _m("load.files", "count"),
    _m("load.rows_rewritten", "count"),
    _m("stream.batches", "count", "higher"),
    _m("stream.trigger_s_p50", "s"),
    _m("stream.add_batch_s_p50", "s"),
    _m("stream.get_batch_s_p50", "s"),
    _m("stream.latest_offset_s_p50", "s"),
    _m("stream.slots_per_batch_p50", "count"),
    _m("stream.backlog_slots", "count"),
    *[_m(f"lookup.{s}.p50_s", "s") for s in LOOKUP_SHAPES],
    _m("lookup.plan_s_p50", "s"),
    _m("lookup.exec_s_p50", "s"),
    _m("lookup.rows_scanned_per_row", "ratio"),
    _m("lookup.files_read_p50", "count"),
    *[_m(f"catalog.{m}_s", "s") for m in CATALOG_MODULES],
    _m("catalog.max_query_s", "s"),
    *[_m(f"self.{layer}_s", "s") for layer in SELF_LAYERS],
    _m("trace.overhead_pct", "%"),
    _m("trace.spans", "count"),
]
