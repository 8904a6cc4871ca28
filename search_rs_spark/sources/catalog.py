"""Pluggable table format: Iceberg when the runtime is present, parquet
otherwise — one code path.

The north rule targets Iceberg tables of web pages. This sandbox
vendors no iceberg-spark runtime jar (and has no network), so the
format is detected at session start: if the Iceberg Spark runtime is
on the classpath, index stages are written/read as location-based
Iceberg tables (``format("iceberg")`` over a path, HadoopTables
layout), giving snapshot isolation + hidden-partitioning on ``term``;
otherwise identical-schema parquet datasets are used. All build/query
code goes through :func:`write_stage` / :func:`read_stage` (and the
k-winner url lookup through :func:`stage_urls`) and is agnostic to the
choice.

To enable on a real cluster:
  spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver> \
    --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@lru_cache(maxsize=4)
def _iceberg_on_classpath(app_id: str) -> bool:
    spark = SparkSession.getActiveSession()
    if spark is None:
        return False
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def table_format(spark: SparkSession) -> str:
    return "iceberg" if _iceberg_on_classpath(spark.sparkContext.applicationId) else "parquet"


def write_stage(df: DataFrame, path: str, options: "dict[str, str] | None" = None) -> None:
    """Write one index stage; ``options`` go to the writer (and from
    there into the parquet writer's Hadoop conf, e.g. page sizes)."""
    fmt = table_format(df.sparkSession)
    df.write.mode("overwrite").format(fmt).options(**(options or {})).save(path)


def read_stage(spark: SparkSession, path: str, schema: "StructType | None" = None) -> DataFrame:
    """Read one index stage. A known ``schema`` (the stage manifest's)
    skips parquet's footer-merging schema job; Iceberg tables carry
    their own schema, so it is ignored there."""
    fmt = table_format(spark)
    reader = spark.read.format(fmt)
    if schema is not None and fmt == "parquet":
        reader = reader.schema(schema)
    return reader.load(path)


def stage_urls(spark: SparkSession, tokens: str, doc_ids: "list[int]") -> "list[str]":
    """The urls of ``doc_ids``, in their order, from the tokens stage at
    ``tokens``. Parquet: a pyarrow read of the row groups holding the
    ids, no Spark job. Otherwise one filtered collect
    (:func:`spark_stage_urls`)."""
    if table_format(spark) == "parquet":
        from ..operators.serving import read_urls

        return read_urls(tokens, doc_ids)
    return spark_stage_urls(spark, tokens, doc_ids)


def spark_stage_urls(spark: SparkSession, tokens: str, doc_ids: "list[int]") -> "list[str]":
    """:func:`stage_urls` through Spark: one filtered collect of the
    tokens stage, for table formats pyarrow cannot read."""
    from ..operators.serving import urls_in_order

    rows = (
        read_stage(spark, tokens)
        .filter(F.col("doc_id").isin(sorted(set(doc_ids))))
        .select("doc_id", "url")
        .collect()
    )
    return urls_in_order(
        tokens, doc_ids, [r["doc_id"] for r in rows], [r["url"] for r in rows]
    )
