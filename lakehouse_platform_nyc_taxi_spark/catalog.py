"""Persistent catalog layer: per-layer databases + external-table registration.

Reference parity (SURVEY.md §2.1 S10/S13): the reference registers every
model in a metastore so a *fresh* session can ``SELECT ... FROM
marts.fct_trips`` with no Python setup — `CREATE DATABASE IF NOT EXISTS`
per layer (scripts/nyc_taxi/ingest_spark_bulk.py:220) and per-layer dbt
schemas raw/staging/intermediate/marts (dbt/dbt_project.yml:14-27).

Spark-first re-expression: a Derby-backed Hive metastore (bundled with
the PySpark distribution — no extra jars) persists EXTERNAL parquet
tables whose data stays at the pipeline's own paths. Data files are
written once by the pipeline; the catalog holds only metadata, so
registration cost is independent of data size — exactly what a 100 TB
deployment wants (the same DDL works against a real Hive metastore or
Glue on a cluster).

Layer mapping mirrors dbt_project.yml: ``stg_*`` -> staging, ``int_*``
-> intermediate, ``fct_*``/``dim_*`` -> marts, raw inputs -> raw.
The intermediate layer is cataloged the way dbt materializes it: as
*views* chained view-on-view over the cataloged staging tables. The
pipeline and the catalog run one SQL text (``models.intermediate``); in
the pipeline it binds DataFrames instead of catalog names, so the models
stay unmaterialized lineage that Catalyst fuses into the mart jobs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession

from .session import get_spark

LAYERS = ("raw", "staging", "intermediate", "marts")


def hive_catalog_session(
    warehouse_dir: str,
    metastore_dir: str | None = None,
    app_name: str = "lakehouse_platform_nyc_taxi_spark_catalog",
    **kwargs,
) -> SparkSession:
    """A SparkSession whose catalog persists across processes.

    ``spark.sql.catalogImplementation=hive`` + a Derby metastore rooted
    under ``metastore_dir`` (defaults to ``<warehouse_dir>/_metastore``).
    Any later session built with the same two directories sees every
    database/table registered here — the single-node analogue of
    pointing executors at a shared Hive metastore / Glue catalog.

    Static confs: must be set before the JVM starts, so this must be the
    first session in the process (``getOrCreate`` cannot retrofit them).
    """
    metastore_dir = metastore_dir or f"{warehouse_dir}/_metastore"
    conf = {
        "spark.sql.catalogImplementation": "hive",
        "spark.sql.warehouse.dir": warehouse_dir,
        # The spark.hadoop. prefix routes the JDO conf to the embedded
        # metastore client (a bare javax.jdo key is dropped as non-Spark).
        "spark.hadoop.javax.jdo.option.ConnectionURL": (
            f"jdbc:derby:;databaseName={metastore_dir};create=true"
        ),
    }
    conf.update(kwargs.pop("extra_conf", {}))
    return get_spark(app_name=app_name, extra_conf=conf, **kwargs)


def create_layer_databases(
    spark: SparkSession, layers: Sequence[str] = LAYERS
) -> None:
    """S10: ``CREATE DATABASE IF NOT EXISTS`` per dbt layer
    (ingest_spark_bulk.py:220; dbt_project.yml:14-27)."""
    for layer in layers:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {layer}")


def register_external_table(
    spark: SparkSession,
    database: str,
    table: str,
    path: str,
    partitioned: bool = False,
) -> None:
    """S13: register an EXTERNAL parquet table over an existing path.

    Schema and partition columns are inferred from the files; for
    partitioned layouts ``MSCK REPAIR TABLE`` syncs the partition list
    into the metastore (metadata-only — lists directories, reads no
    data). Re-registration after a write is idempotent: DROP + CREATE
    touches only metadata, never the files (EXTERNAL semantics).
    """
    fq = f"{database}.{table}"
    spark.sql(f"DROP TABLE IF EXISTS {fq}")
    spark.sql(f"CREATE TABLE {fq} USING PARQUET LOCATION '{path}'")
    if partitioned:
        spark.sql(f"MSCK REPAIR TABLE {fq}")


def layer_for_model(name: str) -> str:
    """dbt_project.yml:14-27 schema routing by model prefix."""
    if name.startswith("stg_"):
        return "staging"
    if name.startswith("int_"):
        return "intermediate"
    return "marts"


def register_pipeline_outputs(
    spark: SparkSession,
    raw_paths: dict[str, str],
    materialized_paths: dict[str, tuple[str, bool]],
) -> list[str]:
    """Catalog every materialized pipeline output + raw source.

    ``materialized_paths`` maps model name -> (path, partitioned).
    Returns the fully-qualified names registered, for logging/tests.
    """
    create_layer_databases(spark)
    registered = []
    for raw_name, path in raw_paths.items():
        register_external_table(spark, "raw", raw_name, path)
        registered.append(f"raw.{raw_name}")
    for model_name, (path, partitioned) in materialized_paths.items():
        db = layer_for_model(model_name)
        register_external_table(spark, db, model_name, path, partitioned=partitioned)
        registered.append(f"{db}.{model_name}")
    return registered
