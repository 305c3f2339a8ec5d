"""Model registry + topological pipeline runner.

The reference's orchestration (Airflow DAG airflow/dags/nyc_taxi_pipeline.py:49-85
sequencing dbt staging -> intermediate -> marts -> test) collapses to a
declarative registry of model functions executed in dependency order, with
per-model materialization (view | table | incremental) and the Airflow
retry policy (2 retries).

A "view" model stays unmaterialized DataFrame lineage — Catalyst fuses the
whole staging->unified->enriched->cleaned chain into the mart jobs, so the
pipeline writes exactly two kinds of files: staging increments and mart
tables. That is the same physical behavior a 100 TB run wants (no
intermediate materialization, one shuffle per mart aggregate).

Fixed jobs. A Spark job costs tens of milliseconds before it does any
work, and at monthly-increment sizes that fixed cost dominates a run. So
facts the lake's layout or the runner already holds are not asked of
Spark: an incremental staging model takes its watermark from the target's
``year=*/month=*`` partition directories (the parquet analogue of Hive or
Iceberg partition metadata: one file-system listing instead of a read of
the target plus a two-job aggregate), the watermark predicate that
selects the batch also scopes ``incremental_delete_insert``'s delete
(instead of a 2-job collect of the batch's partitions), the target is
read with the batch's schema, and every materialized output is read back
with the schema of the DataFrame just written instead of inferring it
from a parquet footer (one job each). An incremental staging model runs
4 jobs: the raw read's schema inference and its 3 write jobs. The marts
count distinct values without an Expand, so each runs 2 jobs, and
``fct_trips`` is written in data-sized tasks (one at fixture scale) that
the marts then scan. On the test fixture a full build runs 17 jobs and
an incremental re-run 21. Snapshot staging models keep the aggregate
watermark over their table.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .models import (
    STAGING_MODELS,
    fct_trips,
    fct_trips_daily,
    fct_trips_monthly,
    int_trips_cleaned,
    int_trips_enriched,
    int_trips_unified,
)
from .models.staging import (
    incremental_watermark_filter,
    partition_watermark,
    watermark_predicate,
)
from .sources.writers import (
    _path_exists,
    data_sized,
    incremental_delete_insert,
    overwrite_table,
    partition_values,
    read_back,
)


@dataclass
class Model:
    name: str
    deps: Sequence[str]
    fn: Callable[..., DataFrame]  # (ctx_dataframes...) -> DataFrame
    materialized: str = "view"  # view | table | incremental | snapshot
    unique_key: Sequence[str] = ()
    partition_by: Sequence[str] = ()
    #: CHECK constraints installed when a ``snapshot`` model first
    #: materializes; every later increment is validated against them
    constraints: dict[str, str] | None = None


@dataclass
class PipelineResult:
    built: dict[str, DataFrame] = field(default_factory=dict)
    timings: dict[str, float] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.errors


def taxi_models(snapshot_staging: Sequence[str] = ()) -> list[Model]:
    """The reference's 10-model DAG (sources -> 4 staging -> 3 intermediate
    -> 3 marts), SURVEY.md §1.1.

    ``snapshot_staging`` names staging models to materialize as
    snapshot TABLES instead of plain incremental parquet: same
    delete+insert increment semantics, but with ACID commits, time
    travel, CDF, a CHECK constraint mirroring the model's validity
    filter, and dbt ``on_schema_change='append_new_columns'`` drift
    handling (stg_nyc_taxi__yellow_trips.sql:5) enforced by the table
    itself rather than by convention.
    """
    models: list[Model] = []
    for name, (raw_table, fn) in STAGING_MODELS.items():
        as_snapshot = name in snapshot_staging
        models.append(
            Model(
                name=name,
                deps=[f"raw.{raw_table}"],
                fn=fn,
                materialized="snapshot" if as_snapshot else "incremental",
                unique_key=("trip_id",),
                partition_by=("year", "month"),
                # the staging validity filter guarantees these; the
                # constraint makes the table reject any future writer
                # that skips the model (fhv models have no amount cols)
                constraints=(
                    {"non_negative_total": "total_amount >= 0"}
                    if as_snapshot and "fhv" not in name
                    else None
                ),
            )
        )
    models += [
        Model(
            "int_trips_unified",
            [
                "stg_nyc_taxi__yellow_trips",
                "stg_nyc_taxi__green_trips",
                "stg_nyc_taxi__fhv_trips",
                "stg_nyc_taxi__fhvhv_trips",
            ],
            int_trips_unified,
        ),
        Model("int_trips_enriched", ["int_trips_unified"], int_trips_enriched),
        Model("int_trips_cleaned", ["int_trips_enriched"], int_trips_cleaned),
        Model("fct_trips", ["int_trips_cleaned"], fct_trips, materialized="table"),
        Model("fct_trips_daily", ["fct_trips"], fct_trips_daily, materialized="table"),
        Model("fct_trips_monthly", ["fct_trips"], fct_trips_monthly, materialized="table"),
    ]
    return models


def run_pipeline(
    spark: SparkSession,
    raw_paths: dict[str, str],
    warehouse_dir: str,
    models: Sequence[Model] | None = None,
    retries: int = 2,
    retry_delay_s: float = 0.0,
    full_refresh: bool = False,
    register_catalog: bool = False,
) -> PipelineResult:
    """Execute the model DAG (registration order is already topological).

    ``raw_paths`` maps raw table name -> parquet path. Materialized models
    land under ``warehouse_dir/<model>``; view models pass their DataFrame
    lineage downstream unmaterialized.

    With ``register_catalog=True`` every materialized output (plus the raw
    sources) is registered as an external table in per-layer databases
    (raw/staging/intermediate/marts — dbt_project.yml:14-27), so a session
    backed by a persistent metastore (see ``catalog.hive_catalog_session``)
    lets a *fresh* session ``SELECT ... FROM marts.fct_trips_daily`` with
    no Python setup, mirroring ingest_spark_bulk.py:220.
    """
    models = list(models) if models is not None else taxi_models()
    result = PipelineResult()
    ctx: dict[str, DataFrame] = {}

    for model in models:
        start = time.monotonic()
        attempt = 0
        while True:
            try:
                inputs = []
                for dep in model.deps:
                    if dep.startswith("raw."):
                        inputs.append(spark.read.parquet(raw_paths[dep[4:]]))
                    else:
                        inputs.append(ctx[dep])
                df = model.fn(*inputs)
                path = f"{warehouse_dir}/{model.name}"
                if model.materialized == "incremental":
                    if full_refresh and _path_exists(spark, path):
                        overwrite_table(df, path, model.partition_by or None)
                    else:
                        # The watermark is the target's max (year, month)
                        # partition directory: the parquet analogue of
                        # asking Hive or Iceberg partition metadata, with
                        # no read of the target and no aggregate job.
                        # Its predicate both selects the batch from the raw
                        # input and scopes the delete, so
                        # incremental_delete_insert collects no partition
                        # list (a 2-job distinct).
                        scope = watermark_predicate(
                            partition_watermark(partition_values(spark, path, ("year", "month")))
                        )
                        if scope is not None:
                            df = model.fn(inputs[0].filter(scope))
                        incremental_delete_insert(
                            spark, df, path, model.unique_key, model.partition_by,
                            delete_scope="partition" if scope is None else scope,
                        )
                    ctx[model.name] = read_back(df, path)
                elif model.materialized == "snapshot":
                    from .sources import snapshots as snap

                    if snap.current_version(path) is None:
                        snap.create_table(df, path)
                        for cname, expr in (model.constraints or {}).items():
                            snap.add_constraint(spark, path, cname, expr)
                    else:
                        if full_refresh:
                            snap.delete_where(spark, path, F.lit(True))
                        else:
                            raw_df = inputs[0]
                            target = snap.read_table(spark, path)
                            df = model.fn(
                                incremental_watermark_filter(raw_df, target)
                            )
                        # delete+insert increment as ONE ACID commit:
                        # keys are replaced wholesale and within-batch
                        # duplicate keys are kept, matching the dbt
                        # delete+insert contract (hence no source-key
                        # validation); constraints and schema drift are
                        # enforced by the table itself
                        snap.merge_into(
                            spark, path, df,
                            key_cols=list(model.unique_key),
                            validate_source_keys=False,
                            merge_schema=True,
                        )
                    ctx[model.name] = snap.read_table(spark, path)
                elif model.materialized == "table":
                    # per-task cost dominates at small sizes, so the table
                    # is written in data-sized tasks (see writers.data_sized)
                    overwrite_table(data_sized(df), path, model.partition_by or None)
                    ctx[model.name] = read_back(df, path)
                else:  # view
                    ctx[model.name] = df
                ctx[model.name].createOrReplaceTempView(model.name)
                result.built[model.name] = ctx[model.name]
                break
            except Exception as exc:  # retry like the Airflow DAG (retries=2)
                attempt += 1
                if attempt > retries:
                    result.errors[model.name] = f"{type(exc).__name__}: {exc}"
                    return result
                if retry_delay_s:
                    time.sleep(retry_delay_s)
        result.timings[model.name] = time.monotonic() - start

    if register_catalog:
        from .catalog import register_pipeline_outputs
        from .models.intermediate import register_intermediate_views

        materialized = {
            m.name: (f"{warehouse_dir}/{m.name}", bool(m.partition_by))
            for m in models
            if m.materialized in ("table", "incremental")
        }
        register_pipeline_outputs(spark, raw_paths, materialized)
        # dbt materializes the intermediate layer as catalog VIEWS with
        # stored SQL (dbt_project.yml:20-23): the same SQL text the
        # pipeline just ran, over the cataloged staging tables. Only for
        # the standard taxi DAG; custom model lists have no stored text.
        if {m.name for m in models} >= {
            "int_trips_unified",
            "int_trips_enriched",
            "int_trips_cleaned",
        }:
            register_intermediate_views(spark)
    return result
