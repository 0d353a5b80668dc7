"""The benchmark's workloads: which operations each runs, and why.

An operation builds one or more DataFrames through the program's public
entry points (the build) and hands them back to the runner, which counts or
collects them (the action). Every returned DataFrame is paired with the name
of the registered query whose DuckDB oracle gives its expected rows.
"""

from __future__ import annotations

import os

# Scale factor of the generated tables: lineitem = 60,000 rows, the size of
# the repository's own correctness fixtures. Chosen so that the program's
# set-up (dominated by ``registry.load_all``), the warm-up and the timed
# passes of a run fit about a minute.
SF = 0.01
# Every run generates the same tables: 42 is the seed of the repository's
# fixture tables, which datagen.py reproduces in distribution. ``--seed``
# permutes the order of the operations only.
DATA_SEED = 42
# Seconds one warm pass of either workload takes on a 4-vCPU Xeon VM.
PASS_S = 4.0


def timed_passes(seconds: float) -> int:
    """Timed passes in a run of ``--seconds``: ``seconds / PASS_S``, at
    least two. A fixed count, not a deadline: pass times keep falling for
    several passes after the warm-up while the JVM compiles hot code, so a
    deadline would let a faster program measure later, faster passes, and a
    run whose pass count tipped by one would read differently."""
    return max(2, round(seconds / PASS_S))


WORKLOADS = {
    # The reference's job (bronze -> silver -> gold written through
    # runner.run_stages, read back and oracle-checked), the delta-lite write
    # path, and the scan/join/window reads that sit beside it. No Python
    # workers and few eager materializations: lineage-cut and Python-worker
    # changes must read flat here, write-path and shuffle changes move it.
    "etl_lakehouse": (
        "medallion_write",
        "deltalite_merge_time_travel",
        "join_inner",
        "window_topk_group",
    ),
    # LLM-curation kernels on the Arrow Python-worker path (grouped-map and
    # mapInPandas UDFs) and the MinHash dedup kernel, next to
    # sparse_cosine_topk, whose build runs an eager localCheckpoint of its
    # TF-IDF gram. No writes: write-path changes must read flat here.
    "llm_iterative": (
        "grouped_map_udf",
        "multimodal_features",
        "minhash_lsh_pairs",
        "sparse_cosine_topk",
    ),
}


def writes_tables(op: str) -> bool:
    """Operations that write tables: their build time is
    ``sources.write_s`` and their action, the read back of what they wrote,
    ``sources.readback_s``."""
    return op == "medallion_write" or op.startswith("deltalite_")


# The medallion job's readback is checked against these two oracles.
_SILVER_ORACLE = "medallion_silver"
_GOLD_ORACLE = "medallion_gold"


def medallion_write(spark, sf_dir: str, out_dir: str, tracer) -> tuple[list, object]:
    """Bronze -> silver (partitioned by ``event_type``) -> gold (overwrite),
    run as ``runner.run_stages`` stages like the reference DAG. Returns the
    lazily read-back layers, projected like their oracles, and the
    ``runner.RunReport``."""
    from pyspark.sql import functions as F

    from ab_inbev_big_data_case_spark.pipeline import run_medallion
    from ab_inbev_big_data_case_spark.queries.medallion import _EVENT_ORDER
    from ab_inbev_big_data_case_spark.runner import Stage, run_stages
    from ab_inbev_big_data_case_spark.sources.readers import table

    silver_path = os.path.join(out_dir, "silver")
    gold_path = os.path.join(out_dir, "gold")

    def ingest(ctx: dict) -> dict:
        return {**ctx, "bronze": table(spark, sf_dir, "events")}

    def transform(ctx: dict) -> dict:
        with tracer.span("pipeline.run_medallion"):
            run_medallion(
                ctx["bronze"],
                important_field="value",
                unique_key="event_id",
                order_by=_EVENT_ORDER,
                group_cols=["event_type", "status"],
                value_col="value",
                silver_path=silver_path,
                silver_partition_cols=["event_type"],
                gold_path=gold_path,
            )
        return ctx

    with tracer.span("runner.run_stages"):
        _, report = run_stages([Stage("ingest", ingest), Stage("transform", transform)])
    silver = spark.read.parquet(silver_path).select(
        "event_id", "event_type", "user_id", "status",
        F.round("value", 2).alias("value_r"),
    )
    gold = spark.read.parquet(gold_path)
    return [(_SILVER_ORACLE, silver), (_GOLD_ORACLE, gold)], report


def build(name: str, queries: dict, spark, sf_dir: str, out_dir: str, tracer):
    """Run operation ``name``'s build; returns ``([(oracle, df)...], report)``
    where ``report`` is the ``runner.RunReport`` or ``None``. ``queries``
    maps names to registered query functions."""
    if name == "medallion_write":
        return medallion_write(spark, sf_dir, out_dir, tracer)
    return [(name, queries[name](spark, sf_dir))], None


def oracle_names(ops: tuple[str, ...]) -> list[str]:
    out = []
    for op in ops:
        out.extend([_SILVER_ORACLE, _GOLD_ORACLE] if op == "medallion_write" else [op])
    return out
