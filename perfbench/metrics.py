"""Metric names and units the benchmark reports.

Every workload reports every name: the end-to-end set with ``--trace 0``,
the per-layer set with ``--trace 1``. ``BENCHMARK.json`` lists the same
names (pinned by ``perfbench/tests/test_metrics.py``).

A per-layer metric whose layer a workload never calls reads 0: the layer
did no work there. Each layer metric names, in ``LAYER_MAP``, the
end-to-end figure it should move and the workload where its layer does
most of the work; on the other workloads the prediction is no change.
The layers of the two hand-run workloads are measured inside the listed
ones: query_mix runs the features_wide job in its pass, and cascade_sink's
traced run runs the resume_waves job.
"""

from __future__ import annotations

# End-to-end: what a user of the engine sees for one workload. Every
# workload runs jobs in a closed loop (one client: the next job starts when
# the previous one has finished); ``job_s`` is the median wall time of one
# job and ``cpu_s`` the median process-tree CPU of one job.
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "job_s": "s",
    "cpu_s": "s",
    "peak_rss_gb": "GB",
}

# Workload-named end-to-end figures, printed by name next to the table
# above (they are fixed multiples or parts of ``job_s`` on one workload).
WORKLOAD_FIGURES: dict[str, dict[str, str]] = {
    "cascade_sink": {"tokens_per_s": "tokens/s",
                     "stored_bytes_per_token": "bytes/token",
                     # traced runs only: the resume_waves job they run
                     "resume_job_s": "s", "incremental_append_s": "s", "retention_s": "s"},
    "resume_waves": {"resume_job_s": "s", "incremental_append_s": "s", "retention_s": "s"},
    "features_wide": {"series_per_s": "series/s"},
    "query_mix": {"query_pass_s": "s", "series_per_s": "series/s"},
}

# The query list of query_mix: one query per module no other workload
# calls. dedup_minhash_lsh and m_rmsse shuffle (MBs at sf0.02).
QUERIES: list[str] = [
    "ts_stats_events",        # functions.sql_features
    # metrics. m_pointwise_metrics is not used: on generated data the
    # events table holds zero actuals, where the Spark mape (NaN, reference
    # semantics) and its DuckDB mirror (x/0 is NULL, skipped by avg)
    # disagree, so that query fails its oracle check.
    "m_rmsse",
    "doc_quality",            # operators.text
    "emb_knn_bruteforce",     # operators.similarity
    "dedup_minhash_lsh",      # operators.dedup
    "tok_decode_roundtrip",   # operators.decode, the read side of compression
]
# one pass of query_mix: the queries and the features_wide job
PASS: list[str] = QUERIES + ["features_wide"]


SPARK_LAYERS: dict[str, str] = {
    "spark.task_cpu_s": "s",
    "spark.task_run_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.tasks": "count",
    "spark.task_max_over_median": "ratio",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}

PER_LAYER: dict[str, str] = {
    # operators.rollup
    "rollup.kernel_tok_per_s_1core": "tokens/s",
    "rollup.window_matrix_s": "s",
    "rollup.partial_self_s": "s",
    # compression
    "compression.dod_encode_s": "s",
    "compression.xor_encode_s": "s",
    "rollup.digest_s": "s",
    "sink.block_bytes_share": "ratio",
    # cascade stages
    "cascade.scan_s": "s",
    "cascade.compute_s": "s",
    "cascade.sink_s": "s",
    "cascade.kernel_ideal_s": "s",
    "cascade.boundary_ratio": "ratio",
    # Spark runtime, for the traced job
    **SPARK_LAYERS,
    # sources.catalog
    "catalog.commit_s.tiers": "s",
    "catalog.commit_s.lineage": "s",
    "catalog.read_s": "s",
    "catalog.snapshot_files": "count",
    # plans.lineage
    "lineage.wave_s.first": "s",
    "lineage.wave_s.last": "s",
    "lineage.readback_growth_s_per_wave": "s/wave",
    # streaming.incremental
    "incremental.diff_s": "s",
    "retention.rows_kept_share": "ratio",
    "retention.rewrite_bytes_per_kept_byte": "ratio",
    # operators.features, kernels
    "features.fit_holt_s": "s",
    "features.fit_hw_s": "s",
    "features.fit_het_s": "s",
    "features.other_kernels_s": "s",
    "features.boundary_ratio": "ratio",
    # query layers
    **{f"query.{q}_s": "s" for q in PASS},
    **{f"query.{q}.shuffle_bytes": "bytes" for q in PASS},
    "dedup.signatures_s": "s",
    # the traced job minus the same job untraced, in the same process
    "trace.overhead_s": "s",
}

# layer metric (or prefix) -> (end-to-end figure it should move, workload)
LAYER_MAP: dict[str, tuple[str, str]] = {
    "rollup.": ("tokens_per_s, cpu_s", "cascade_sink"),
    "compression.": ("tokens_per_s against stored_bytes_per_token", "cascade_sink"),
    "sink.": ("tokens_per_s against stored_bytes_per_token", "cascade_sink"),
    "cascade.": ("tokens_per_s", "cascade_sink"),
    "spark.jvm_gc_s": ("tokens_per_s", "cascade_sink"),
    "spark.task_max_over_median": ("tokens_per_s", "cascade_sink"),
    "spark.shuffle_bytes": ("query_pass_s", "query_mix"),
    "spark.input_bytes": ("tokens_per_s", "cascade_sink"),
    "spark.": ("job_s", "every workload"),
    "catalog.commit_s.tiers": ("tokens_per_s", "cascade_sink"),
    "catalog.snapshot_files": ("tokens_per_s", "cascade_sink"),
    # resume_waves's job, run by cascade_sink's traced run
    "catalog.": ("resume_job_s, incremental_append_s", "cascade_sink"),
    "lineage.": ("resume_job_s", "cascade_sink"),
    "incremental.": ("incremental_append_s", "cascade_sink"),
    "retention.": ("retention_s", "cascade_sink"),
    "features.": ("series_per_s", "query_mix"),
    "query.": ("query_pass_s", "query_mix"),
    "dedup.": ("query_pass_s", "query_mix"),
    "trace.": ("none: tracing overhead", "every workload"),
}


def layer_target(name: str) -> tuple[str, str]:
    """The (end-to-end figure, workload) a layer metric should move: the
    longest matching key of ``LAYER_MAP``."""
    keys = [k for k in LAYER_MAP if name == k or (k.endswith(".") and name.startswith(k))]
    if not keys:
        raise KeyError(name)
    return LAYER_MAP[max(keys, key=len)]
