"""The benchmark's metrics: name -> unit. METRICS.md documents each one;
BENCHMARK.json registers the same names (checked by test_bench.py)."""

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p75_s": "s",
    "lookup_p50_ms": "ms",
    "lookup_p90_ms": "ms",
}

STORES_READ = ["catalog", "freq", "windoc", "dedup"]
STORES_WRITTEN = ["catalog", "dedup", "freq"]

PER_LAYER = {
    "tables.load_ms": "ms",
    "tables.load_jobs": "count",
    "tables.loads_per_op": "count",
    "operators.build_s": "s",
    "operators.build_share": "ratio",
    "operators.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.core_busy_frac": "ratio",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "exec.task_skew": "ratio",
    "functions.minhash_sigs.rows_per_s": "1/s",
    "functions.simhash64.rows_per_s": "1/s",
    "functions.shingle_set.rows_per_s": "1/s",
    "functions.levenshtein_bp.pairs_per_s": "1/s",
    "functions.cosine_sim.pairs_per_s": "1/s",
    **{f"sources.{s}.read_ms": "ms" for s in STORES_READ},
    **{f"sources.{s}.versions": "count" for s in STORES_WRITTEN},
    **{f"sources.{s}.chain_len": "count" for s in STORES_WRITTEN},
    "sources.compactions": "count",
    "sources.bytes_written_per_input_byte": "ratio",
    "sources.disk_mb": "MB",
    "streaming.add_batch_ms": "ms",
    "streaming.trigger_overhead_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.core_busy_frac": "ratio",
    "streaming.accepted_frac": "ratio",
    "streaming.docs_per_s": "1/s",
    "self.build_s": "s",
    "self.catalyst_s": "s",
    "self.exec_s": "s",
    "self.other_s": "s",
    "self.sum_vs_wall": "ratio",
    "setup.session_s": "s",
    "setup.stores_s": "s",
    "setup.caches_s": "s",
    "setup.warmup_s": "s",
    "mem.heap_peak_mb": "MB",
    "mem.cached_mb": "MB",
    "trace.overhead_frac": "ratio",
}

WORKLOADS = ["corpus-curation", "ingest"]
