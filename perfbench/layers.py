"""Names and units of the per-layer metrics a traced run reports.

Layers are named after the program's modules. Every traced run reports
every name: a layer the workload never calls reads 0 (no time spent, no
work done), so both workloads' outputs have the same keys.
"""

from workloads import KERNELS, QUERIES, STAGES

PER_LAYER: dict = {}
PER_LAYER.update({f"lineage.{s}.wall_s": "s" for s in STAGES})
PER_LAYER.update(
    {
        "lineage.finalize_s": "s",
        "lineage.unattributed_s": "s",
        "lineage.jobs": "count",
        "mentions.spans_in": "count",
        "mentions.triples_out": "count",
        "mentions.udf_rows_per_span": "ratio",
        "mentions.python_s": "s",
        "mentions.link_shuffle_bytes": "bytes",
        "mentions.link_task_skew": "ratio",
        "canonicalize.surfaces": "count",
        "canonicalize.entities": "count",
        "canonicalize.entity_map_s": "s",
        "canonicalize.entity_map_jobs": "count",
        "canonicalize.triples_s": "s",
        "codegen.statements": "count",
        "codegen.batches": "count",
        "codegen.batch_fill": "ratio",
        "validate_udf.statements": "count",
        "validate_udf.wall_s": "s",
        "validate_udf.python_s": "s",
        "validate_udf.stmts_per_core_s": "1/s",
        "validate_udf.distinct_ratio": "ratio",
        "validate_udf.errors": "count",
        "validate_udf.error_codes": "count",
        "apply_merge.statements": "count",
        "apply_merge.wall_s": "s",
        "apply_merge.parse_passes": "ratio",
        "apply_merge.refused": "count",
        "apply_merge.nodes": "count",
        "apply_merge.edges": "count",
    }
)
for q in QUERIES:
    PER_LAYER.update(
        {
            f"executor.{q}.plan_s": "s",
            f"executor.{q}.run_s": "s",
            f"executor.{q}.rows": "count",
            f"executor.{q}.jobs": "count",
        }
    )
for k in KERNELS:
    PER_LAYER.update(
        {
            f"graph_algo.{k}.wall_s": "s",
            f"graph_algo.{k}.jobs": "count",
            f"graph_algo.{k}.tasks": "count",
            f"graph_algo.{k}.rows": "count",
        }
    )
PER_LAYER.update(
    {
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.python_worker_s": "s",
        "spark.task_skew": "ratio",
        "trace.overhead_s": "s",
    }
)
