"""Every metric the benchmark emits, with its unit; ``BENCHMARK.json`` at
the repo root lists the same names (the self-test holds them equal).

End-to-end metrics are shared by the workloads; what an "operation" and
a "pass" are in each workload is described in ``METRICS.md``.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "op_geomean_ms": "ms",
}

PLAN_LAYERS = ("plans.relational", "plans.pipeline", "plans.northstar",
               "plans.advanced", "operators.retrieval")
PLAN_KEYS = {"wall_ms": "ms", "executor_cpu_ms": "ms", "offcpu_ms": "ms",
             "jvm_gc_ms": "ms", "shuffle_bytes": "bytes", "jobs": "count"}
NAMED_QUERIES = ("embed_near_dups_lsh", "conditional_distinct_agg", "retrieval_hybrid",
                 "embed_ann_lsh", "simhash_near_dups", "ohlcv_hourly")
WRITE_LAYERS = ("operators.cleaning.raw_to_bronze",
                "operators.incremental.read_high_watermark",
                "operators.incremental.incremental_append",
                "quality.run_checks", "jobs.daily_backfill_and_transform")
WRITE_KEYS = {"wall_ms": "ms", "executor_cpu_ms": "ms", "offcpu_ms": "ms",
              "shuffle_bytes": "bytes", "input_bytes": "bytes", "jobs": "count"}
STREAM = {"rows_per_s": "rows/s", "batch_p50_ms": "ms", "batch_p90_ms": "ms",
          "latest_offset_ms": "ms", "add_batch_ms": "ms", "query_planning_ms": "ms",
          "wal_commit_ms": "ms", "commit_offsets_ms": "ms", "start_ms": "ms",
          "batches": "count", "executor_cpu_ms": "ms", "offcpu_ms": "ms",
          "rows_kept_ratio": "ratio"}


def _catalog_layers() -> dict[str, str]:
    out: dict[str, str] = {}
    for layer in PLAN_LAYERS:
        out.update({f"{layer}.{k}": u for k, u in PLAN_KEYS.items()})
    for q in NAMED_QUERIES:
        out[f"query.{q}.wall_ms"] = "ms"
        out[f"query.{q}.jobs"] = "count"
    return out


def _pipeline_layers() -> dict[str, str]:
    out: dict[str, str] = {}
    for layer in WRITE_LAYERS:
        out.update({f"{layer}.{k}": u for k, u in WRITE_KEYS.items()})
    out.update({
        "jobs.hourly_transform.first_ms": "ms",
        "jobs.hourly_transform.last_ms": "ms",
        "storage.bronze_files": "count",
        "storage.fact_files": "count",
        "storage.fact_bytes_per_increment": "bytes",
    })
    out.update({f"streaming.ingest.{k}": u for k, u in STREAM.items()})
    out["sources.kafka_wire.produce_ms"] = "ms"
    return out


#: Emitted by every workload. ``setup_s`` has no overhead figure: the
#: traced pass runs after set-up, so set-up is the same in both.
COMMON = {
    "session.get_spark_ms": "ms", "session.driver_rss_peak_mb": "MB",
    "session.jvm_heap_peak_mb": "MB",
    **{f"trace.overhead.{m}": u for m, u in END_TO_END.items() if m != "setup_s"},
}
PER_LAYER = {**_catalog_layers(), **_pipeline_layers(), **COMMON}
UNITS = {**END_TO_END, **PER_LAYER}

#: The per-layer metrics each workload measures; in a traced run the
#: others read 0.
LAYERS_OF = {
    "catalog": set(_catalog_layers()) | set(COMMON),
    "pipeline": set(_pipeline_layers()) | set(COMMON),
}

#: Own-layer metrics that may read 0 in a traced run: stages that ran no
#: GC, and the bronze append, which writes without a shuffle.
MAY_BE_ZERO = {f"{layer}.jvm_gc_ms" for layer in PLAN_LAYERS} | {
    "operators.cleaning.raw_to_bronze.shuffle_bytes"}

#: Per-layer metrics where a larger value is the better one.
HIGHER_IS_BETTER = {"streaming.ingest.rows_per_s", "streaming.ingest.rows_kept_ratio"}
