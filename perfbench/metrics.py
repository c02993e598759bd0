"""Names and units of the benchmark's metrics (BENCHMARK.json lists the same)."""

REGISTRY_QUERIES = (
    # job- and scheduling-overhead bound: many jobs per query
    "events_sessionize_incremental",
    "dedup_prefix_filter_join",
    # per-blob Python kernels: bit readers, AES
    "multimodal_audio_flac_decode",
    "source_pdf_aesv3",
    "archive_7z_encrypted",
)

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.task_skew": "ratio",
    "python.run_s": "s",
    "python.start_s": "s",
    "python.mb_sent": "MiB",
    "python.mb_returned": "MiB",
    "sources.read_s": "s",
    "sources.input_mb": "MiB",
    "scanner.scan_s": "s",
    "scanner.fragments": "count",
    "scanner.kept_ratio": "ratio",
    "xpath_subset.eval_s": "s",
    "xpath_subset.cells": "count",
    "extract.cells_s": "s",
    "extract.general_xpath_s": "s",
    "assembly.assemble_s": "s",
    "assembly.shuffle_mb": "MiB",
    "assembly.rows_out": "count",
    "sinks.write_s": "s",
    "sinks.output_mb": "MiB",
    **{
        f"queries.{q}.{m}": u
        for q in REGISTRY_QUERIES
        for m, u in (("build_s", "s"), ("action_s", "s"), ("jobs", "count"), ("python_run_s", "s"))
    },
    "host.canary_ratio": "ratio",
    "trace.overhead_s": "s",
}
