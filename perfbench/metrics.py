"""Every metric the benchmark prints, with its unit. BENCHMARK.json lists
the same names; a test pins the two together."""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "units_per_s": "1/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "read_mb_per_op": "MB",
}

# query_mix's timed pass, in this fixed order: the TPC-H Q3 shape, ranking
# windows and one stateful streaming entry. The list is what fits the
# window's passes into one run (README.md, "Why query_mix runs three entries"); q48c
# runs once after the window.
QUERY_MIX = ("q16_tpch_q3_shape", "q23_ranking_windows", "q36_tumbling_window")
EXACT_ENTRY = "q48_cosine_topk"
ANN_ENTRY = "q48c_ivf_topk"  # rows-only: checked by recall@5 against q48


def code(name: str) -> str:
    return name.split("_", 1)[0]


LOADER_STAGES = ("resolve_files", "sniff_headers", "resolve_schema",
                 "audit_anti_join", "validate", "stage_write", "publish",
                 "audit_append")

# Spark engine totals of one op, read from the status store by stage id
# right after the op: (StageData field, per-layer name, scale).
STAGE_FIELDS = (
    ("numTasks", "spark.tasks", 1),
    ("executorRunTime", "spark.executor_run_s", 1e-3),
    ("executorCpuTime", "spark.executor_cpu_s", 1e-9),
    ("jvmGcTime", "spark.gc_s", 1e-3),
    ("inputBytes", "spark.input_mb", 1 / 2**20),
    ("shuffleWriteBytes", "spark.shuffle_write_mb", 1 / 2**20),
    ("memoryBytesSpilled", "spark.spill_mb", 1 / 2**20),
    ("diskBytesSpilled", "spark.spill_mb", 1 / 2**20),
)

PER_LAYER = {
    "session.start_s": "s",
    "session.shuffle_partitions": "count",
    # ingest.events
    "ingest.decode_s": "s",
    "ingest.candidates_per_envelope": "ratio",
    # ingest.fs, ingest.loader, ingest.schema_registry
    **{f"ingest.{s}_s": "s" for s in LOADER_STAGES},
    "ingest.schema_expansions": "count",
    "ingest.audit_files": "count/drop",
    "ingest.csv_read_passes": "ratio",
    "ingest.data_files": "count/drop",
    "ingest.stored_bytes_per_csv_byte": "ratio",
    # functions.local_time_col over read_table_partitioned
    "ingest.view_query_s": "s",
    "ingest.view_files_read": "count",
    # queries, operators.similarity, streaming
    **{f"query.{code(q)}_s": "s" for q in QUERY_MIX},
    "query.planning_s": "s",
    "similarity.recall_at_5": "ratio",
    "similarity.ivf_scan_frac": "ratio",
    "streaming.state_rows": "count",
    "streaming.state_partitions": "count",
    "streaming.batch_s": "s",
    # run.pipeline_main and the corpus operators
    "pipeline.gates_s": "s",
    "pipeline.gates_kept_frac": "ratio",
    "pipeline.exact_dedup_s": "s",
    "pipeline.exact_dup_frac": "ratio",
    "pipeline.near_pairs_s": "s",
    "pipeline.near_pairs": "count",
    "pipeline.cc_s": "s",
    "pipeline.cc_jobs": "count",
    "pipeline.clusters": "count",
    "pipeline.scrub_s": "s",
    "pipeline.tokens_kept_frac": "ratio",
    "pipeline.pack_s": "s",
    "pipeline.chunk_fill": "ratio",
    # Spark engine, per op
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_busy_frac": "ratio",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.leaked_rdds": "count",
    "python.worker_cpu_s": "s",
    "trace.overhead_frac": "ratio",
}
