"""Metric names and units: the end-to-end metrics every untraced run prints
and the per-layer metrics every traced run prints. BENCHMARK.json lists
the same names; perfbench/README.md says which end-to-end metric each
per-layer metric should move.

A layer idle on a workload reports 0 there (for example ``log.get.*``
on ``pipeline``).
"""

from __future__ import annotations

#: Not here, for their run-to-run spread: peak RSS (driver + JVM varied
#: by more than a tenth, 1.13-1.44 GB on ``log_api``) and the median
#: operation latency (its spread over ten seeds reached 0.29 on
#: ``log_api``). Both stay per-layer metrics.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "log.append_many.p50_ms": "ms",
    "log.append_many.p99_ms": "ms",
    "log.get.p50_ms": "ms",
    "log.get.p99_ms": "ms",
    "log.get_patched.p50_ms": "ms",
    "log.null.p50_ms": "ms",
    "log.replace.p50_ms": "ms",
    "log.data_files": "count",
    "log.patch_files": "count",
    "log.disk_bytes": "bytes",
    "log.user_bytes": "bytes",
    "log.bytes_per_user_byte": "ratio",
    "log.df.build_ms": "ms",
    "log.query_df.plan_ms": "ms",
    "log.query_df.exec_ms": "ms",
    "log.query_df.tasks": "count",
    "codec.marshal_us": "us",
    "codec.unmarshal_us": "us",
    "multilog.sublog_append.p50_ms": "ms",
    "multilog.sublog_query.p50_ms": "ms",
    "multilog.entry_files": "count",
    "indexes.build_index.s": "s",
    "indexes.build_index.rows": "count",
    "indexes.set.p50_ms": "ms",
    "indexes.get_cold_ms": "ms",
    "indexes.upsert_files": "count",
    "live.lag_ms": "ms",
    "live.batches": "count",
    "entry.builder_s": "s",
    "entry.builder_jobs": "count",
    "entry.checkpoints": "count",
    "entry.stream_dedup_minhash.builder_s": "s",
    "entry.stream_dedup_minhash.builder_jobs": "count",
    "entry.stream_dedup_minhash.exec_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "stream.batches": "count",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_memory_bytes": "bytes",
    "driver.peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def empty_layers() -> dict:
    return dict.fromkeys(PER_LAYER, 0.0)
