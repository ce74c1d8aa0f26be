"""Workload definitions and the metric catalogue.

Every workload is a closed loop with one client: one query at a time, the
next sent only after the previous one returns, in a query order shuffled
from the seed on every pass. `pass_s_nominal` is the pass time measured on
the 4-core box the benchmark was written on; it turns `--seconds` into a
fixed number of timed passes. The reasons for each mix are in
perfbench/README.md.
"""

# Session settings shared by every workload: graft.Bench's settings (run.py
# adds the core count and the scratch directories).
BASE_CONF = {
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "graft.sums.exact": "false",
}

WORKLOADS = {
    # Driver-floor bound: planning, job scheduling and codegen. graft.Bench
    # headline queries plus stream_tumbling (the streaming twin of the
    # headline's evt_tumbling) and one format round-trip, which carry the
    # streaming and write-side sources layers. Every pass compiles again.
    "headline_sf01": {
        "data": "sf01",
        "tables": ["lineitem", "orders", "events", "documents", "supplier"],
        "queries": ["q1_pricing_summary", "join_override", "agg_value_histogram", "text_grep",
                    "stream_tumbling", "fmt_orc_roundtrip"],
        "conf": {},
        "warmup_passes": 3,
        "pass_s_nominal": 3.0,
        "lsh_routes": [],
    },
    # Kernel and banded-candidate work over a multi-file corpus. Its
    # classes fit the codegen cache, so timed passes compile nothing.
    "llm_corpus": {
        "data": "llm",
        "tables": ["documents", "embeddings"],
        "queries": ["sim_pairs_threshold", "dedup_exact", "text_repetition_stats"],
        "conf": {"graft.sim.exact": "false"},
        "warmup_passes": 5,
        "pass_s_nominal": 1.8,
        "lsh_routes": ["sim_pairs_threshold"],
    },
}

# llm_corpus corpus size
LLM_DOCS, LLM_VECS, LLM_FILES = 3_000, 1_500, 4

# (name, unit, better, bound) — the bound is the share by which the median
# may worsen before a change counts as a regression
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("query_s_p50", "s", "lower", 0.25),
    ("query_s_tail", "s", "lower", 0.25),
    ("cpu_s_per_pass", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("peak_heap_mb", "MB", "lower", 0.1),
    ("ok_ratio", "ratio", "higher", 0.01),
    ("lsh_recall", "ratio", "higher", 0.05),
]

PER_LAYER = [
    ("core.session_s", "s", "lower"),
    ("core.tables_first_load_s", "s", "lower"),
    ("core.tables_cached_load_ms", "ms", "lower"),
    ("operators.construct_s", "s", "lower"),
    ("operators.execute_s", "s", "lower"),
    ("functions.construct_s", "s", "lower"),
    ("functions.execute_s", "s", "lower"),
    ("sources.construct_s", "s", "lower"),
    ("sources.execute_s", "s", "lower"),
    ("streaming.construct_s", "s", "lower"),
    ("streaming.execute_s", "s", "lower"),
    ("expr.minhash_sig_us_per_doc", "us", "lower"),
    ("expr.shingle_card_us_per_doc", "us", "lower"),
    ("expr.simhash_us_per_doc", "us", "lower"),
    ("expr.shingles_us_per_doc", "us", "lower"),
    ("expr.rep_stats_us_per_doc", "us", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("codegen.compiles_per_pass", "count", "lower"),
    ("codegen.compile_s_per_pass", "s", "lower"),
    ("scheduler.jobs_per_pass", "count", "lower"),
    ("scheduler.stages_per_pass", "count", "lower"),
    ("scheduler.tasks_per_pass", "count", "lower"),
    ("scheduler.job_s", "s", "lower"),
    ("scheduler.driver_idle_s", "s", "lower"),
    ("executor.task_run_s", "s", "lower"),
    ("executor.task_cpu_s", "s", "lower"),
    ("executor.gc_s", "s", "lower"),
    ("executor.task_skew", "ratio", "lower"),
    ("executor.core_util", "ratio", "higher"),
    ("shuffle.read_mb", "MB", "lower"),
    ("shuffle.write_mb", "MB", "lower"),
    ("shuffle.spill_mb", "MB", "lower"),
    ("sources.bytes_read_mb", "MB", "lower"),
    ("sources.bytes_written_mb", "MB", "lower"),
    ("sources.files_written", "count", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.wal_commit_s", "s", "lower"),
    ("jvm.jit_s_per_pass", "s", "lower"),
    ("jvm.gc_s_per_pass", "s", "lower"),
    ("jvm.classes_loaded_per_pass", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
]
