"""Metric names, units and bounds — the names are fixed from here on.

Every run prints every metric of its mode, on every workload: a layer or
class a workload does not exercise reads 0 there (``spark.*`` on
``catalog_ops``, ``shape.insert.ms_p50`` on ``analytic_reads``).
"""

from __future__ import annotations

CATALOG_CLASSES = ["lookup", "travel", "commit", "multi", "replayed"]
READ_SHAPES = ["point", "filter_scan", "q1_agg", "star_join", "rank_window",
               "top_k", "count_distinct", "exists_semi"]
DML_CLASSES = ["insert", "delete", "update", "merge", "refresh", "mv_read"]
# classes that run Engine.sql; "point" is shared by analytic_reads and
# lakehouse_dml (a keyed read of one table in both)
SPARK_CLASSES = READ_SHAPES + DML_CLASSES
WRITE_CLASSES = ["insert", "delete", "update", "merge", "refresh"]
DML_TABLES = ["lineitem", "orders", "mv"]
LAYERS = ["engine", "spark", "txn", "tree", "storage"]

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "throughput_ops_s": ("1/s", "higher", 0.25),
    "read_ms_p50": ("ms", "lower", 0.25),
    "storage_bytes_per_user_byte": ("ratio", "lower", 0.1),
    "peak_rss_mb": ("MiB", "lower", 0.25),
}

# extra end-to-end figures a workload prints on its REPORT line; not every
# workload has them (analytic_reads has no writes), so the steadiness tool
# checks them against these bounds but they are not in BENCHMARK.json
REPORT_BOUNDS = {
    "read_ms_p90": 0.25,
    "write_ms_p50": 0.25,
    "write_ms_p90": 0.25,
    "refresh_ms_p50": 0.25,
}


def per_layer() -> dict[str, str]:
    """name -> unit, in a stable order."""
    out = {
        "storage.reads_per_lookup": "count",
        "storage.read_bytes_per_lookup": "bytes",
        "storage.writes_per_commit": "count",
        "storage.write_bytes_per_commit": "bytes",
        "tree.nodes_read_per_lookup": "count",
        "tree.root_load_ms": "ms",
        "tree.nodes_written_per_commit": "count",
        "tree.write_root_ms": "ms",
        "txn.commit_ms": "ms",
        "txn.cas_retries": "count",
        "txn.conflict_aborts": "count",
        "txn.useful_commit_ratio": "ratio",
    }
    for c in SPARK_CLASSES:
        out[f"engine.sql_self_ms.{c}"] = "ms"
        out[f"engine.py4j_calls.{c}"] = "count"
        out[f"engine.catalog_ms.{c}"] = "ms"
        out[f"spark.jobs.{c}"] = "count"
        out[f"spark.job_ms.{c}"] = "ms"
    out["spark.stages"] = "count"
    out["spark.tasks"] = "count"
    out["spark.shuffle_write_bytes"] = "bytes"
    out["mv.incremental_ratio"] = "ratio"
    out["mv.delta_rows"] = "count"
    out["mv.refresh_jobs"] = "count"
    for c in WRITE_CLASSES:
        out[f"data.files_written.{c}"] = "count"
    out["data.bytes_written"] = "bytes"
    for t in DML_TABLES:
        out[f"data.live_files.{t}"] = "count"
    for c in CATALOG_CLASSES + SPARK_CLASSES:
        out[f"shape.{c}.ms_p50"] = "ms"
    for k in ("spark_start_s", "datagen_s", "load_s", "warmup_s"):
        out[f"setup.{k}"] = "s"
    out["trace.unattributed_pct"] = "%"
    out["trace.overhead_pct"] = "%"
    for layer in LAYERS:
        out[f"layer.{layer}.self_pct"] = "%"
    return out
