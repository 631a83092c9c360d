"""The benchmark's workloads and metric names (mirrored in BENCHMARK.json).

Every workload is a closed loop with one client: its operations run one at
a time, back to back, in one Spark session on ``local[nproc]``.
"""

from __future__ import annotations

ARTICLES_OP = "run_cleaning_pipeline"

WORKLOADS: dict[str, dict] = {
    "articles_funnel": {
        "ops": [ARTICLES_OP],
        "why": "the paper's cleaning funnel on a seeded dirty-article file: JSON schema inference, "
        "driver collects and two files written",
    },
    "llm_curation": {
        "ops": ["dedup_minhash_lsh", "dedup_containment_pairs", "text_winnowing_overlap", "sim_cosine_topk"],
        "why": "text and vector dedup over documents/embeddings: single-task text stages, eager "
        "checkpoints, Arrow/Python boundary",
    },
}

# (name, unit, better) as BENCHMARK.json lists them
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("cold_pass_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("rows_per_s", "1/s", "higher"),
    ("cpu_s", "s", "lower"),
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
    ("sources.load_s", "s", "lower"),
    ("sources.load_jobs", "count", "lower"),
    ("plans.build_s", "s", "lower"),
    ("plans.build_jobs", "count", "lower"),
    ("operators.self_s", "s", "lower"),
    ("operators.checkpoints", "count", "lower"),
    ("operators.checkpoint_s", "s", "lower"),
    ("operators.checkpoint_rows", "count", "lower"),
    ("catalyst.plan_s", "s", "lower"),
    ("exec.action_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.core_busy_ratio", "ratio", "higher"),
    ("exec.single_task_stage_s", "s", "lower"),
    ("exec.longest_stage_s", "s", "lower"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("exec.rows_per_result", "ratio", "lower"),
    ("functions.python_run_s", "s", "lower"),
    ("functions.python_start_s", "s", "lower"),
    ("functions.python_mb", "MB", "lower"),
    ("functions.python_cpu_s", "s", "lower"),
    ("pipeline.self_s", "s", "lower"),
    ("pipeline.jobs", "count", "lower"),
    ("pipeline.driver_rows", "count", "lower"),
    ("sinks.write_s", "s", "lower"),
    ("sinks.mb_written", "MB", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.self_s", "s", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
]
