"""Intermediate models: unify -> enrich -> clean (SURVEY.md §2.7, §2.8).

Re-expresses dbt/models/intermediate/{int_trips_unified,int_trips_enriched,
int_trips_cleaned}.sql as lazy DataFrame views (the reference materializes
these as SQL views — here they are unmaterialized lineage, which Catalyst
fuses into the downstream mart scans).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.trino import (
    date_diff,
    day_name,
    day_of_week_iso,
    time_of_day,
    trino_round,
)

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

# Spark types of the nullable padding columns, int_trips_unified.sql:23-25,58,63-68,85-88.
_NULLABLE_TYPES = {
    "vendor_id": "long",
    "passenger_count": "double",
    "trip_distance_miles": "double",
    "fare_amount": "double",
    "total_amount": "double",
    "base_passenger_fare": "double",
    "hvfhs_license_number": "string",
    "dispatching_base_number": "string",
    # not nullable in the reference, but tolerated here so audit-free
    # test frames can flow through the union
    "loaded_at": "timestamp",
}


def _conform(df: DataFrame, taxi_type: str) -> DataFrame:
    """Project one staging branch onto the unified select-list, padding
    absent columns with typed NULL literals (positional-union parity)."""
    present = set(df.columns)
    cols = []
    for name in UNIFIED_COLUMNS:
        if name == "taxi_type":
            cols.append(F.lit(taxi_type).alias("taxi_type"))
        elif name in present:
            cols.append(F.col(name))
        else:
            cols.append(F.lit(None).cast(_NULLABLE_TYPES[name]).alias(name))
    return df.select(*cols)


def int_trips_unified(
    yellow: DataFrame, green: DataFrame, fhv: DataFrame, fhvhv: DataFrame
) -> DataFrame:
    """U1: 4-branch UNION ALL onto one schema (int_trips_unified.sql:98-106).

    Faithfully positional: every branch is built from the same explicit
    select-list, so ``unionByName`` and ``union`` coincide; a schema
    assertion in tests pins the contract.
    """
    branches = [
        _conform(yellow, "yellow"),
        _conform(green, "green"),
        _conform(fhv, "fhv"),
        _conform(fhvhv, "fhvhv"),
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def int_trips_enriched(unified: DataFrame) -> DataFrame:
    """Derived metrics (int_trips_enriched.sql:14-96): durations, speed,
    costs, temporal features, four boolean quality flags."""
    dur_s = date_diff("second", "pickup_datetime", "dropoff_datetime")
    dur_m = date_diff("minute", "pickup_datetime", "dropoff_datetime")
    miles = F.col("trip_distance_miles")
    total = F.col("total_amount")

    return unified.withColumns(
        {
            "trip_duration_seconds": dur_s,
            "trip_duration_minutes": dur_m,
            "trip_duration_hours": trino_round(dur_s / 3600.0, 2),
            # :24-32 — NULL when no movement or no elapsed time
            "avg_speed_mph": F.when(
                (dur_s > 0) & (miles > 0),
                trino_round(miles / (dur_s / 3600.0), 2),
            ).otherwise(F.lit(None).cast("double")),
            # :35-39
            "cost_per_mile": F.when(
                (miles > 0) & total.isNotNull(), trino_round(total / miles, 2)
            ).otherwise(F.lit(None).cast("double")),
            # :42-46
            "cost_per_minute": F.when(
                (dur_m > 0) & total.isNotNull(), trino_round(total / dur_m, 2)
            ).otherwise(F.lit(None).cast("double")),
            # :49-66 temporal features (ISO day-of-week — Trino semantics)
            "pickup_hour": F.hour("pickup_datetime"),
            "pickup_day_of_week": day_of_week_iso("pickup_datetime"),
            "pickup_day_name": day_name("pickup_datetime"),
            "time_of_day": time_of_day("pickup_datetime"),
            # :69-93 quality flags — CASE WHEN cond THEN true ELSE false
            # (NULL conditions fall through to false, as F.when does)
            "is_valid_duration": F.when(dur_m.between(1, 180), True).otherwise(False),
            "is_valid_distance": F.when(miles.between(0.1, 100), True).otherwise(False),
            "is_valid_fare": F.when(
                total.between(0, 500) | total.isNull(), True
            ).otherwise(False),
            "is_high_quality_trip": F.when(
                dur_m.between(1, 180)
                & (miles.between(0.1, 100) | miles.isNull())
                & (total.between(0, 500) | total.isNull())
                & F.col("pickup_location_id").isNotNull()
                & F.col("dropoff_location_id").isNotNull(),
                True,
            ).otherwise(False),
        }
    )


def cleaned_predicate() -> Column:
    """The int_trips_cleaned row filter (int_trips_cleaned.sql:17-19) over
    int_trips_enriched's columns. The AND/OR precedence quirk is part of
    the contract: ``(is_high_quality AND speed < 80) OR speed IS NULL``,
    so NULL-speed rows pass regardless of the quality flag. Reproduced,
    not fixed. Shared by the model and the quality suite's fused scan.
    """
    speed = F.col("avg_speed_mph")
    return ((F.col("is_high_quality_trip") == True) & (speed < 80)) | speed.isNull()  # noqa: E712


def int_trips_cleaned(enriched: DataFrame) -> DataFrame:
    """int_trips_cleaned.sql: the enriched rows that pass
    :func:`cleaned_predicate`."""
    return enriched.filter(cleaned_predicate())
