"""Every metric the benchmark prints, with its unit.

``END_TO_END`` is what a user of the engine sees and is printed by
every untraced run; ``PER_LAYER`` comes from the traced run only.
Both lists must match ``BENCHMARK.json`` (a test checks this). A layer
a workload does not exercise reads 0 there.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "kind_gmean_ms": "ms",
    "peak_rss_mb": "MB",
}

SPARK_SUFFIXES = {
    "build_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MB",
    "result_mb": "MB",
}

SPARK_SPANS = (
    "operators.materialize",
    "operators.training_set",
    "operators.batch_features",
    "operators.split",
    "sources.writers.write_versioned",
    "functions.dedup.minhash_lsh_pairs",
    "functions.clustering.semantic_dedup",
    "functions.heavy_hitters.frequent_ngrams",
    "functions.lm.ngram_lm_score",
    "functions.similarity.cosine_topk_batch",
)

_SETUP = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "registry.register_s": "s",
    "plans.engine.source_df_s": "s",
}

_REFRESH = {
    **{
        f"{op}.{suffix}": unit
        for op in (
            "sources.delta_protocol.append",
            "sources.delta_protocol.merge",
            "sources.iceberg_protocol.upsert",
        )
        for suffix, unit in (("s", "s"), ("jobs", "count"), ("executor_cpu_s", "s"))
    },
    "sources.delta_protocol.merge.files_rewritten_frac": "ratio",
    "sources.delta_protocol.snapshot_s": "s",
    "sources.delta_protocol.table_changes_s": "s",
    "sources.delta_protocol.maintenance_s": "s",
    "sources.iceberg_protocol.snapshot_s": "s",
    "sources.delta_protocol.log_files": "count",
    "sources.delta_protocol.data_files": "count",
    "sources.iceberg_protocol.data_files": "count",
    "sources.iceberg_protocol.delete_files": "count",
    "sources.iceberg_protocol.manifests": "count",
    "sources.bytes_written_mb": "MB",
    "serving.online.materialize_to_online_s": "s",
}

_SERVING = {
    **{
        f"{op}.{q}": "us"
        for op in (
            "serving.server.serve",
            "serving.server.ondemand",
            "serving.sqlite_store.get",
            "serving.sqlite_store.set_if_newer",
            "serving.hnsw_index.query",
            "serving.ann_index.query",
        )
        for q in ("p50_us", "p99_us")
    },
    "serving.hnsw_index.filtered_p50_us": "us",
    "serving.ann_index.filtered_p50_us": "us",
    "serving.hnsw_index.recall_at_10": "ratio",
    "serving.ann_index.recall_at_10": "ratio",
    "serving.flight_server.ttfb_ms": "ms",
    "serving.flight_server.mb_per_s": "MB/s",
    "serving.flight_server.batches": "count",
    "serving.flight_server.nearest_rpc_p50_us": "us",
    "serving.flight_server.multi_get_rpc_p50_us": "us",
    "serving.hnsw_index.build_s": "s",
    "serving.ann_index.build_s": "s",
}

# traced end-to-end numbers: minus the untraced run's = tracing overhead
_TRACED = {
    "traced.setup_s": "s",
    "traced.op_p50_ms": "ms",
    "traced.kind_gmean_ms": "ms",
    "traced.ops_per_s": "1/s",
}

PER_LAYER = {
    **_SETUP,
    **{
        f"{span}.{suffix}": unit
        for span in SPARK_SPANS
        for suffix, unit in SPARK_SUFFIXES.items()
    },
    **_REFRESH,
    **_SERVING,
    **_TRACED,
}
