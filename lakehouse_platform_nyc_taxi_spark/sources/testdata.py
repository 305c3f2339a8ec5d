"""Loaders for the driver-provided synthetic testdata (see TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under a scale-factor dir.

Scale notes: a plain ``spark.read.parquet`` keeps predicate pushdown,
column pruning and (on a real cluster) file-split parallelism; nothing
here materializes on the driver. The only column-level fix-up is
``events.ts``: the file stores parquet TIMESTAMP(NANOS), which Spark 4
reads only as nanos-since-epoch longs (``nanosAsLong``); we truncate —
not round — to microseconds so values match engines that truncate
ns->us (DuckDB casts TIMESTAMP_NS -> TIMESTAMP the same way).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos-since-epoch -> µs (integer div truncates like DuckDB's
        # TIMESTAMP_NS -> TIMESTAMP cast), then to a *naive* timestamp:
        # with the session pinned to UTC, timestamp_micros(µs) renders
        # the same wall-clock the generator wrote.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


def load_table_parallel(
    spark: SparkSession, sf_dir: str, name: str, partitions: int | None = None
) -> DataFrame:
    """``load_table`` + round-robin repartition to the core count.

    The testdata ships ONE row group per table, and parquet cannot split
    a row group — so every scan is a single task no matter how many
    cores or what ``spark.sql.files.maxPartitionBytes`` says. That is a
    bench-scale artifact: the same table at production scale has
    thousands of files/row groups and parallelizes naturally. For
    CPU-bound per-row operators (shingling, hashing, higher-order array
    pipelines, Arrow-batched Python) the explicit repartition recreates
    the production parallelism; the shuffled payload is the raw table —
    a few MB here, measured 5-6x end-to-end on the fingerprint/MinHash
    family. Scan-bound or pushdown-sensitive queries should keep plain
    ``load_table`` (the extra exchange would only add cost)."""
    return load_table(spark, sf_dir, name).repartition(
        partitions or spark.sparkContext.defaultParallelism
    )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view (the `spark.sql` surface)."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
