"""The index fixture both workloads query: one ``build_index`` call in a
freshly started JVM, as ``python -m search_rs_spark build`` runs it.

Its wall time is the end-to-end ``index_build_s``. In a traced run each
build stage runs under its own Spark job group, which gives the
``build.*`` layer metrics.
"""

from __future__ import annotations

import time

from common import dir_bytes
from tracing import SparkCounters, Tracer

STAGES = ("tokens", "vocabulary", "postings")
SPARK_FIELDS = (
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "task_time_max_over_median",
    "failed_tasks",
)


def _spark_unit(field: str) -> str:
    if field.endswith("bytes"):
        return "bytes"
    return "ratio" if field == "task_time_max_over_median" else "count"


def build_fixture(spark, corpus, out, text_bytes: int, tracer: Tracer) -> tuple[float, dict]:
    """-> (build seconds, build.* layer metrics; empty when not tracing)."""
    from search_rs_spark.plans import build as build_mod
    from search_rs_spark.plans.checkpoint import StageRunner

    stage_counts: dict[str, dict] = {}
    if tracer.enabled:
        counters = SparkCounters(spark)
        original_run = StageRunner.run

        def traced_run(self, stage, *args, **kwargs):
            c: dict = {}
            with tracer.span(f"build.{stage}"), counters.group(f"build.{stage}", c):
                df = original_run(self, stage, *args, **kwargs)
            stage_counts[stage] = c
            return df

        StageRunner.run = traced_run
    try:
        t = time.perf_counter()
        with tracer.span("build.build_index"):
            stages = build_mod.build_index(spark, spark.read.parquet(str(corpus)), str(out))
        seconds = time.perf_counter() - t
    finally:
        if tracer.enabled:
            StageRunner.run = original_run

    if not tracer.enabled:
        return seconds, {}
    import pyarrow.dataset as ds

    layer: dict = {}
    for m in stages:
        if m.get("stage") in STAGES:
            layer[f"build.{m['stage']}_s"] = (float(m["seconds"]), "s")
    for s in STAGES:
        layer[f"build.{s}_bytes"] = (dir_bytes(out / s), "bytes")
        for f in SPARK_FIELDS:
            layer[f"build.{s}.{f}"] = (stage_counts.get(s, {}).get(f, 0), _spark_unit(f))
    sum_df = int(
        ds.dataset(str(out / "vocabulary"), format="parquet")
        .to_table(columns=["df"])["df"]
        .to_numpy()
        .sum()
    )
    layer["build.postings_bytes_per_posting"] = (
        layer["build.postings_bytes"][0] / max(1, sum_df),
        "bytes",
    )
    layer["build.index_bytes_ratio"] = (dir_bytes(out) / text_bytes, "ratio")
    return seconds, layer
