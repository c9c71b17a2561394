"""Names and units of every metric the benchmark prints.

End-to-end metrics come from untraced runs; every workload reports all of
them. Per-layer metrics come from traced runs; a layer a workload does
not touch reports 0 there.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}

# query families of the query_mix workload, by registry-name prefix
FAMILIES = {
    "qw": ("q", "w"),
    "er": ("e", "r"),
    "d": ("d",),
    "tp": ("t", "p"),
    "s": ("s",),
    "gh": ("g", "h"),
    "st": ("st",),
}
FAMILY_METRICS = {
    "wall_s": "s",
    "driver_gap_s": "s",
    "spark_jobs": "count",
    "spark_stages": "count",
    "spark_tasks": "count",
    "shuffle_bytes": "bytes",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "spill_bytes": "bytes",
}
# table operations of the table_lifecycle workload
TABLE_OPS = [
    "append", "delete_mor", "delete_eq", "update", "merge",
    "scan_plan", "scan_exec", "rewrite",
]


def family_of(query: str) -> str:
    if query.startswith("st"):
        return "st"
    for fam, prefixes in FAMILIES.items():
        if query[0] in prefixes and fam != "st":
            return fam
    raise KeyError(query)


def per_layer() -> dict[str, str]:
    m: dict[str, str] = {
        "session.start_s": "s",
        "session.jvm_rss_peak_mb": "MiB",
        "process.peak_rss_mb": "MiB",
    }
    for fam in FAMILIES:
        for k, unit in FAMILY_METRICS.items():
            m[f"queries.{fam}.{k}"] = unit
    m["functions.local_df.calls"] = "count"
    m["functions.local_df.s"] = "s"
    for op in TABLE_OPS:
        m[f"format.icelite.{op}.s"] = "s"
        m[f"format.icelite.{op}.spark_jobs"] = "count"
    m.update({
        "format.icelite.delete_artifacts_live": "count",
        "format.icelite.files_live": "count",
        "format.icelite.files_written": "count",
        "format.icelite.manifests_written": "count",
        "format.icelite.catalog_share": "ratio",
        "format.icelite.commit_retries": "count",
        "format.icelite.bytes_stored_per_user_byte": "ratio",
        "catalog.load_table.s": "s",
        "catalog.commit_transaction.s": "s",
        "catalog.metastore.write_txn_s": "s",
        "catalog.metastore.lock_wait_s": "s",
        "catalog.metastore.record_endpoint.calls": "count",
        "catalog.metastore.record_endpoint.s": "s",
        "catalog.commit.conflicts": "count",
        "catalog.commit.attempts": "count",
        "catalog.etag_304_ratio": "ratio",
        "rest.server.handler_s": "s",
        "rest.transport_s": "s",
        "rest.server.pending_max": "count",
        "rest.response_bytes": "bytes",
        "rest.load_p50_ms": "ms",
        "rest.load_p99_ms": "ms",
        "rest.commit_p50_ms": "ms",
        "rest.commit_p99_ms": "ms",
        "rest.max_rate_rps": "1/s",
        "harness.send_late_p99_ms": "ms",
        "harness.trace_overhead_pct": "%",
        "harness.tmp_dirs_left": "count",
    })
    return m
