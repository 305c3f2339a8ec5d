"""Source readers mirroring SURVEY.md §2.1 (S3 and S4).

Everything is schema-on-read by default (the reference's raw layer
contract, ingest_spark_bulk.py:137/150); staging models pin types with
explicit cast projections (models.staging).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_parquet(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """S3: schema-inferred parquet scan (vectorized, pushdown-capable)."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """S4: catalog table scan (`spark.table`)."""
    return spark.table(name)
