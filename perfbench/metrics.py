"""Names and units of the per-layer metrics the traced run reports.

Every workload reports every name; a layer the workload does not call
reads 0. ``BENCHMARK.json`` lists the same names, plus ``cold.<name>``
for each name in ``COLD_LAYER``."""

PER_LAYER = {
    "dtree.fit_s": "s",
    "dtree.fit_jobs": "count",
    "dtree.score_s": "s",
    "dtree.score_jobs": "count",
    "splitting.calls": "count",
    "splitting.busy_s": "s",
    "splitting.jobs": "count",
    "multimodal.build_s": "s",
    "multimodal.plan_chars": "count",
    **{
        f"ingest.{stage}.{m}": unit
        for stage in (
            "dedup",
            "gopher",
            "lm_gate",
            "bloom_decontam",
            "semantic_decontam",
            "temperature_sample",
            "pack",
        )
        for m, unit in (("build_s", "s"), ("build_jobs", "count"))
    },
    "ingest.exec_s": "s",
    "ingest.exec_jobs": "count",
    "utils.persisted_rdds_after_op": "count",
    "utils.broadcast_if_small.calls": "count",
    "utils.broadcast_if_small.busy_s": "s",
    "spark.plan_s": "s",
    "spark.codegen_compiles": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.op_wall_s": "s",
    "trace.layer_share": "1",
}

# also reported for the cold op alone, as cold.<name>
COLD_LAYER = ("spark.codegen_compiles", "spark.plan_s", "spark.jobs")
