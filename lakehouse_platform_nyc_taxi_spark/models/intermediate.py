"""Intermediate models: unify -> enrich -> clean (SURVEY.md §2.7, §2.8).

dbt/models/intermediate/{int_trips_unified,int_trips_enriched,
int_trips_cleaned}.sql, defined once as Spark SQL text. The pipeline runs
the text over its DataFrames: ``spark.sql(TEXT, name=df)`` binds each
input as a temporary view and keeps its attributes, so the models stay
unmaterialized lineage that Catalyst fuses into the downstream mart
scans. :func:`register_intermediate_views` stores the same text as
catalog views over the cataloged staging tables, the way dbt
materializes this layer (dbt_project.yml:20-23).

The formulas are the ``functions.trino`` shims written in SQL: Trino's
``round`` is sign·floor(|x|·10ⁿ + 0.5)/10ⁿ and ``date_diff`` counts whole
units. Double literals carry the ``D`` suffix: Spark SQL parses a bare
``100.0`` as DECIMAL(5,1), which drags the arithmetic through decimal
coercion and lands 1 ulp off the oracle's pure-double ops (seen as
1-cent rounding flips).
"""

from __future__ import annotations

from collections.abc import Collection, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .staging import STAGING_MODELS

#: The canonical 17-column unified schema, int_trips_unified.sql:11-28.
UNIFIED_COLUMNS = (
    "trip_id",
    "taxi_type",
    "vendor_id",
    "pickup_location_id",
    "dropoff_location_id",
    "pickup_datetime",
    "dropoff_datetime",
    "passenger_count",
    "trip_distance_miles",
    "fare_amount",
    "total_amount",
    "base_passenger_fare",
    "hvfhs_license_number",
    "dispatching_base_number",
    "year",
    "month",
    "loaded_at",
)

#: The unified branches' taxi_type literals, in STAGING_MODELS order.
TAXI_TYPES = ("yellow", "green", "fhv", "fhvhv")

# Types of the typed-NULL padding columns, int_trips_unified.sql:23-25,58,63-68,85-88.
_PADDING_TYPES = {
    "vendor_id": "BIGINT",
    "passenger_count": "DOUBLE",
    "trip_distance_miles": "DOUBLE",
    "fare_amount": "DOUBLE",
    "total_amount": "DOUBLE",
    "base_passenger_fare": "DOUBLE",
    "hvfhs_license_number": "STRING",
    "dispatching_base_number": "STRING",
    # not nullable in the reference, but tolerated here so audit-free
    # test frames can flow through the union
    "loaded_at": "TIMESTAMP",
}


def unified_sql(branches: Sequence[tuple[str, str, Collection[str]]]) -> str:
    """int_trips_unified.sql:98-106: a UNION ALL with one SELECT per
    ``(relation, taxi_type, columns present)`` branch, each projected onto
    ``UNIFIED_COLUMNS``. A column the branch lacks is a typed NULL, so the
    positional union lines up."""
    selects = []
    for relation, taxi_type, present in branches:
        cols = [
            f"'{taxi_type}' AS taxi_type" if name == "taxi_type"
            else name if name in present
            else f"CAST(NULL AS {_PADDING_TYPES[name]}) AS {name}"
            for name in UNIFIED_COLUMNS
        ]
        selects.append(f"SELECT {', '.join(cols)} FROM {relation}")
    return "\nUNION ALL\n".join(selects)


def _round(expr: str, n: int) -> str:
    """Trino ``round(expr, n)`` (``functions.trino.trino_round``) in SQL."""
    factor = f"{10 ** n}.0D"
    return f"(CAST(FLOOR(ABS({expr}) * {factor} + 0.5D) AS DOUBLE) / {factor}) * SIGNUM({expr})"


_DUR_S = "timestampdiff(SECOND, pickup_datetime, dropoff_datetime)"
_DUR_M = f"CAST({_DUR_S} / 60 AS BIGINT)"
_HOUR = "hour(pickup_datetime)"
_DAY = "weekday(pickup_datetime) + 1"  # ISO day of week, Monday = 1
_DAY_NAMES = " ".join(
    f"WHEN {i} THEN '{name}'"
    for i, name in enumerate(
        ("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"),
        start=1,
    )
)

#: int_trips_enriched.sql:14-96 over ``{unified}``: durations, speed,
#: costs, temporal features and four boolean quality flags, appended to
#: unified's columns. The flags are CASE WHEN cond THEN true ELSE false,
#: so a NULL condition gives false.
ENRICHED_SQL = f"""SELECT *,
  {_DUR_S} AS trip_duration_seconds,
  {_DUR_M} AS trip_duration_minutes,
  {_round(f"{_DUR_S} / 3600.0D", 2)} AS trip_duration_hours,
  CASE WHEN {_DUR_S} > 0 AND trip_distance_miles > 0
       THEN {_round(f"trip_distance_miles / ({_DUR_S} / 3600.0D)", 2)}
       ELSE CAST(NULL AS DOUBLE) END AS avg_speed_mph,
  CASE WHEN trip_distance_miles > 0 AND total_amount IS NOT NULL
       THEN {_round("total_amount / trip_distance_miles", 2)}
       ELSE CAST(NULL AS DOUBLE) END AS cost_per_mile,
  CASE WHEN {_DUR_M} > 0 AND total_amount IS NOT NULL
       THEN {_round(f"total_amount / {_DUR_M}", 2)}
       ELSE CAST(NULL AS DOUBLE) END AS cost_per_minute,
  {_HOUR} AS pickup_hour,
  {_DAY} AS pickup_day_of_week,
  CASE {_DAY} {_DAY_NAMES} END AS pickup_day_name,
  CASE WHEN {_HOUR} BETWEEN 6 AND 11 THEN 'Morning'
       WHEN {_HOUR} BETWEEN 12 AND 17 THEN 'Afternoon'
       WHEN {_HOUR} BETWEEN 18 AND 22 THEN 'Evening'
       ELSE 'Night' END AS time_of_day,
  CASE WHEN {_DUR_M} BETWEEN 1 AND 180 THEN true ELSE false END AS is_valid_duration,
  CASE WHEN trip_distance_miles BETWEEN 0.1D AND 100 THEN true ELSE false END AS is_valid_distance,
  CASE WHEN total_amount BETWEEN 0 AND 500 OR total_amount IS NULL
       THEN true ELSE false END AS is_valid_fare,
  CASE WHEN {_DUR_M} BETWEEN 1 AND 180
        AND (trip_distance_miles BETWEEN 0.1D AND 100 OR trip_distance_miles IS NULL)
        AND (total_amount BETWEEN 0 AND 500 OR total_amount IS NULL)
        AND pickup_location_id IS NOT NULL
        AND dropoff_location_id IS NOT NULL
       THEN true ELSE false END AS is_high_quality_trip
FROM {{unified}}"""

#: The int_trips_cleaned row filter (int_trips_cleaned.sql:17-19) over
#: int_trips_enriched's columns. The AND/OR precedence quirk is part of
#: the contract: NULL-speed rows pass regardless of the quality flag.
#: Reproduced, not fixed.
CLEANED_PREDICATE = (
    "(is_high_quality_trip = true AND avg_speed_mph < 80) OR avg_speed_mph IS NULL"
)

#: int_trips_cleaned.sql over ``{enriched}``.
CLEANED_SQL = f"SELECT * FROM {{enriched}} WHERE {CLEANED_PREDICATE}"


def int_trips_unified(
    yellow: DataFrame, green: DataFrame, fhv: DataFrame, fhvhv: DataFrame
) -> DataFrame:
    """U1: 4-branch UNION ALL onto one schema (int_trips_unified.sql)."""
    frames = dict(zip(TAXI_TYPES, (yellow, green, fhv, fhvhv)))
    sql = unified_sql([(f"{{{t}}}", t, df.columns) for t, df in frames.items()])
    return yellow.sparkSession.sql(sql, **frames)


def int_trips_enriched(unified: DataFrame) -> DataFrame:
    """Derived metrics (int_trips_enriched.sql), see :data:`ENRICHED_SQL`."""
    return unified.sparkSession.sql(ENRICHED_SQL, unified=unified)


def int_trips_cleaned(enriched: DataFrame) -> DataFrame:
    """int_trips_cleaned.sql: the enriched rows that pass
    :data:`CLEANED_PREDICATE`."""
    return enriched.sparkSession.sql(CLEANED_SQL, enriched=enriched)


def cleaned_predicate() -> Column:
    """:data:`CLEANED_PREDICATE` as a Column, for the quality suite's
    fused scan over int_trips_enriched."""
    return F.expr(CLEANED_PREDICATE)


def register_intermediate_views(
    spark: SparkSession, staging_db: str = "staging", database: str = "intermediate"
) -> list[str]:
    """``CREATE OR REPLACE VIEW`` the three intermediate models with
    stored SQL text, chained view-on-view like dbt. Metadata-only: reads
    no data, and a fresh session against the same metastore resolves
    ``intermediate.int_trips_cleaned`` down to the staging tables."""
    staging = [f"{staging_db}.{model}" for model in STAGING_MODELS]
    views = {
        "int_trips_unified": unified_sql(
            [(t, tt, spark.table(t).columns) for t, tt in zip(staging, TAXI_TYPES)]
        ),
        "int_trips_enriched": ENRICHED_SQL.format(unified=f"{database}.int_trips_unified"),
        "int_trips_cleaned": CLEANED_SQL.format(enriched=f"{database}.int_trips_enriched"),
    }
    for name, sql in views.items():
        spark.sql(f"CREATE OR REPLACE VIEW {database}.{name} AS {sql}")
    return [f"{database}.{name}" for name in views]
