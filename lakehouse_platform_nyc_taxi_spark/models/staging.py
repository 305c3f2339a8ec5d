"""Staging models: per-taxi-type standardization (SURVEY.md §2.2 P1-P3).

Each model is a pure ``DataFrame -> DataFrame`` function re-expressing the
reference's dbt staging SQL (dbt/models/staging/stg_nyc_taxi__*.sql):
surrogate key over (pickup ts, PU, DO), explicit cast projection, literal
audit columns, and the conjunctive validity filter. Incremental
materialization (the dbt ``delete+insert`` strategy + max-(year,month)
watermark) lives in :mod:`..pipeline`, so these stay composable views.

Everything is built-in Catalyst expressions — a single whole-stage-codegen
projection+filter over the scan; filters push down to parquet.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.trino import surrogate_key
from ..sources.writers import nulls_first


def _validity_filter(df: DataFrame, pickup: str, dropoff: str, extra) -> DataFrame:
    cond = (
        F.col(pickup).isNotNull()
        & F.col(dropoff).isNotNull()
        & (F.col(pickup) < F.col(dropoff))
    )
    for e in extra:
        cond = cond & e
    return df.filter(cond)


def stg_yellow_trips(raw: DataFrame) -> DataFrame:
    """stg_nyc_taxi__yellow_trips.sql:22-47."""
    filtered = _validity_filter(
        raw,
        "tpep_pickup_datetime",
        "tpep_dropoff_datetime",
        [F.col("trip_distance") >= 0, F.col("total_amount") >= 0],
    )
    return filtered.select(
        surrogate_key("tpep_pickup_datetime", "pulocationid", "dolocationid").alias("trip_id"),
        F.col("vendorid").cast("long").alias("vendor_id"),
        F.col("pulocationid").cast("long").alias("pickup_location_id"),
        F.col("dolocationid").cast("long").alias("dropoff_location_id"),
        F.col("tpep_pickup_datetime").cast("timestamp").alias("pickup_datetime"),
        F.col("tpep_dropoff_datetime").cast("timestamp").alias("dropoff_datetime"),
        F.col("passenger_count").cast("double").alias("passenger_count"),
        F.col("trip_distance").cast("double").alias("trip_distance_miles"),
        F.col("fare_amount").cast("double").alias("fare_amount"),
        F.col("total_amount").cast("double").alias("total_amount"),
        F.col("year").cast("int").alias("year"),
        F.col("month").cast("int").alias("month"),
        F.lit("yellow").alias("taxi_type"),
        F.current_timestamp().alias("loaded_at"),
    )


def stg_green_trips(raw: DataFrame) -> DataFrame:
    """stg_nyc_taxi__green_trips.sql — yellow with lpep_* timestamp columns."""
    filtered = _validity_filter(
        raw,
        "lpep_pickup_datetime",
        "lpep_dropoff_datetime",
        [F.col("trip_distance") >= 0, F.col("total_amount") >= 0],
    )
    return filtered.select(
        surrogate_key("lpep_pickup_datetime", "pulocationid", "dolocationid").alias("trip_id"),
        F.col("vendorid").cast("long").alias("vendor_id"),
        F.col("pulocationid").cast("long").alias("pickup_location_id"),
        F.col("dolocationid").cast("long").alias("dropoff_location_id"),
        F.col("lpep_pickup_datetime").cast("timestamp").alias("pickup_datetime"),
        F.col("lpep_dropoff_datetime").cast("timestamp").alias("dropoff_datetime"),
        F.col("passenger_count").cast("double").alias("passenger_count"),
        F.col("trip_distance").cast("double").alias("trip_distance_miles"),
        F.col("fare_amount").cast("double").alias("fare_amount"),
        F.col("total_amount").cast("double").alias("total_amount"),
        F.col("year").cast("int").alias("year"),
        F.col("month").cast("int").alias("month"),
        F.lit("green").alias("taxi_type"),
        F.current_timestamp().alias("loaded_at"),
    )


def stg_fhv_trips(raw: DataFrame) -> DataFrame:
    """stg_nyc_taxi__fhv_trips.sql:22-41 — no distance/fare columns."""
    filtered = _validity_filter(raw, "pickup_datetime", "dropoff_datetime", [])
    return filtered.select(
        surrogate_key("pickup_datetime", "pulocationid", "dolocationid").alias("trip_id"),
        F.col("pulocationid").cast("long").alias("pickup_location_id"),
        F.col("dolocationid").cast("long").alias("dropoff_location_id"),
        F.col("pickup_datetime").cast("timestamp").alias("pickup_datetime"),
        F.col("dropoff_datetime").cast("timestamp").alias("dropoff_datetime"),
        F.col("dispatching_base_num").cast("string").alias("dispatching_base_number"),
        F.col("year").cast("int").alias("year"),
        F.col("month").cast("int").alias("month"),
        F.lit("fhv").alias("taxi_type"),
        F.current_timestamp().alias("loaded_at"),
    )


def stg_fhvhv_trips(raw: DataFrame) -> DataFrame:
    """stg_nyc_taxi__fhvhv_trips.sql:22-45."""
    filtered = _validity_filter(
        raw, "pickup_datetime", "dropoff_datetime", [F.col("trip_miles") >= 0]
    )
    return filtered.select(
        surrogate_key("pickup_datetime", "pulocationid", "dolocationid").alias("trip_id"),
        F.col("pulocationid").cast("long").alias("pickup_location_id"),
        F.col("dolocationid").cast("long").alias("dropoff_location_id"),
        F.col("pickup_datetime").cast("timestamp").alias("pickup_datetime"),
        F.col("dropoff_datetime").cast("timestamp").alias("dropoff_datetime"),
        F.col("trip_miles").cast("double").alias("trip_distance_miles"),
        F.col("base_passenger_fare").cast("double").alias("base_passenger_fare"),
        F.col("hvfhs_license_num").cast("string").alias("hvfhs_license_number"),
        F.col("dispatching_base_num").cast("string").alias("dispatching_base_number"),
        F.col("year").cast("int").alias("year"),
        F.col("month").cast("int").alias("month"),
        F.lit("fhvhv").alias("taxi_type"),
        F.current_timestamp().alias("loaded_at"),
    )


STAGING_MODELS = {
    "stg_nyc_taxi__yellow_trips": ("yellow_trips", stg_yellow_trips),
    "stg_nyc_taxi__green_trips": ("green_trips", stg_green_trips),
    "stg_nyc_taxi__fhv_trips": ("fhv_trips", stg_fhv_trips),
    "stg_nyc_taxi__fhvhv_trips": ("fhvhv_trips", stg_fhvhv_trips),
}


def incremental_watermark_filter(raw: DataFrame, target: DataFrame | None) -> DataFrame:
    """P4: the is_incremental() predicate (stg_nyc_taxi__yellow_trips.sql:13-17).

    Reprocess the target's max (year, month) and anything later. The
    watermark is collected driver-side in ONE tiny aggregate —
    ``max(struct(year, month))`` orders by year, then month, with NULL
    fields lowest, so it equals Trino's two scalar subqueries (max year,
    then max month within it); the resulting literal predicate
    partition-prunes the raw scan. The pipeline's parquet targets skip
    the aggregate: ``partition_watermark`` reads the same value from
    their partition directories.
    """
    if target is None:
        return raw
    mx = target.agg(F.max(F.struct("year", "month")).alias("w")).first().w
    return watermark_filter(raw, None if mx is None else (mx.year, mx.month))


def partition_watermark(
    parts: Iterable[tuple[str | None, str | None]],
) -> tuple[int | None, int | None] | None:
    """``max(struct(year, month))`` over a target's ``(year, month)``
    partition directories (``sources.writers.partition_values``): NULL
    (``__HIVE_DEFAULT_PARTITION__``) ranks lowest, as in the aggregate.
    ``None`` when the target has no partitions."""
    typed = [tuple(None if v is None else int(v) for v in p) for p in parts]
    return max(typed, key=nulls_first, default=None)


def watermark_predicate(
    watermark: tuple[int | None, int | None] | None,
) -> Column | None:
    """The rows at or after the ``(year, month)`` watermark, as a
    predicate over ``year`` and ``month``; ``None`` (keep every row) when
    there is no watermark or its year is NULL. A NULL month selects no
    row of the watermark year (``month >= NULL``).

    An incremental staging batch is the raw rows this predicate keeps, so
    every partition the batch can touch is one the predicate selects: the
    pipeline passes it to ``incremental_delete_insert`` as the delete
    scope, which then needs no collect of the batch's partitions."""
    if watermark is None or watermark[0] is None:
        return None
    year, month = watermark
    return (F.col("year") > year) | ((F.col("year") == year) & (F.col("month") >= month))


def watermark_filter(
    raw: DataFrame, watermark: tuple[int | None, int | None] | None
) -> DataFrame:
    """``raw`` filtered by ``watermark_predicate``; all of it when there is
    no predicate."""
    pred = watermark_predicate(watermark)
    return raw if pred is None else raw.filter(pred)
