"""The reference's 37 data-quality checks, ported verbatim (SURVEY.md §2.11).

35 generic tests (dbt/models/{staging,intermediate,marts}/schema.yml) + 2
singular tests (dbt/tests/marts/). Counts per layer: 12 staging (declared
on the yellow staging model), 9 intermediate, 14 marts... the generic
declarations total 35 across layers; the two singular tests bring it to 37.
"""

from __future__ import annotations

from ..models.intermediate import cleaned_predicate
from .assertions import Assertion, accepted_range, accepted_values, not_null


def taxi_assertion_suite() -> list[Assertion]:
    a: list[Assertion] = []

    # --- staging (dbt/models/staging/schema.yml:8-62): 12 tests ---
    stg = "stg_nyc_taxi__yellow_trips"
    for col in (
        "trip_id",
        "vendor_id",
        "pickup_datetime",
        "dropoff_datetime",
        "pickup_location_id",
        "dropoff_location_id",
        "trip_distance_miles",
        "total_amount",
        "year",
        "month",
    ):
        a.append(not_null(stg, col))
    a.append(accepted_range(stg, "trip_distance_miles", min_value=0))
    a.append(accepted_range(stg, "total_amount", min_value=0))

    # --- intermediate (dbt/models/intermediate/schema.yml:4-45): 9 tests ---
    # The three intermediate models are unmaterialized views over one
    # chain, so all 9 checks share ONE pass over int_trips_enriched
    # instead of rebuilding the staging union once per model:
    # enriched only adds columns to unified (same rows, same values),
    # and cleaned is enriched filtered by ``cleaned_predicate``, which
    # the cleaned check applies itself.
    chain = [
        not_null("int_trips_unified", "trip_id"),
        not_null("int_trips_unified", "taxi_type"),
        accepted_values("int_trips_unified", "taxi_type", ["yellow", "green", "fhv", "fhvhv"]),
        not_null("int_trips_unified", "pickup_datetime"),
        not_null("int_trips_enriched", "trip_id"),
        not_null("int_trips_enriched", "is_high_quality_trip"),
        accepted_values(
            "int_trips_enriched", "time_of_day", ["Morning", "Afternoon", "Evening", "Night"]
        ),
        accepted_range("int_trips_enriched", "pickup_hour", min_value=0, max_value=23),
        not_null("int_trips_cleaned", "trip_id"),
    ]
    chain[-1].violation = cleaned_predicate() & chain[-1].violation
    for c in chain:
        c.scan = "int_trips_enriched"
    a += chain

    # --- marts (dbt/models/marts/schema.yml:4-87): 14 tests ---
    a.append(not_null("fct_trips", "trip_id"))
    a.append(not_null("fct_trips", "taxi_type"))
    a.append(
        accepted_values("fct_trips", "taxi_type", ["yellow", "green", "fhv", "fhvhv"])
    )
    a.append(not_null("fct_trips", "pickup_datetime"))
    a.append(not_null("fct_trips", "is_high_quality_trip"))
    a.append(not_null("fct_trips_daily", "trip_date"))
    a.append(not_null("fct_trips_daily", "taxi_type"))
    a.append(not_null("fct_trips_daily", "total_trips"))
    a.append(accepted_range("fct_trips_daily", "total_trips", min_value=0))
    a.append(not_null("fct_trips_monthly", "year"))
    a.append(not_null("fct_trips_monthly", "month"))
    a.append(not_null("fct_trips_monthly", "taxi_type"))
    a.append(not_null("fct_trips_monthly", "total_trips"))
    a.append(accepted_range("fct_trips_monthly", "total_trips", min_value=0))

    return a
