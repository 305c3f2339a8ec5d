"""End-to-end parity of the taxi pipeline vs a DuckDB oracle of the
reference's SQL chain, plus the 37-assertion quality suite and
incremental semantics."""

from __future__ import annotations

import os
import uuid
from dataclasses import replace

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lakehouse_platform_nyc_taxi_spark.fixtures import generate_raw_tables, write_raw_tables
from lakehouse_platform_nyc_taxi_spark.models import (
    fct_trips,
    fct_trips_daily,
    fct_trips_monthly,
    int_trips_cleaned,
    int_trips_enriched,
    int_trips_unified,
)
from lakehouse_platform_nyc_taxi_spark.models.intermediate import UNIFIED_COLUMNS
from lakehouse_platform_nyc_taxi_spark.models.marts import count_distinct
from lakehouse_platform_nyc_taxi_spark.models.staging import (
    STAGING_MODELS,
    incremental_watermark_filter,
    partition_watermark,
    stg_yellow_trips,
    watermark_filter,
)
from lakehouse_platform_nyc_taxi_spark.pipeline import Model, run_pipeline, taxi_models
from lakehouse_platform_nyc_taxi_spark.quality import run_assertions, taxi_assertion_suite
from lakehouse_platform_nyc_taxi_spark.quality.assertions import (
    positive_fare_threshold,
    valid_speed,
)
from lakehouse_platform_nyc_taxi_spark.sources.writers import append_partitioned, partition_values

from . import taxi_oracle
from .oracle_utils import compare_frames


@pytest.fixture(scope="module")
def raw_paths(tmp_path_factory):
    out = tmp_path_factory.mktemp("taxi_raw")
    return write_raw_tables(str(out), n=800)


@pytest.fixture(scope="module")
def spark_marts(spark, raw_paths):
    """The unmaterialized model chain (loaded_at dropped for determinism)."""
    stg = {}
    for name, (raw_table, fn) in STAGING_MODELS.items():
        stg[name] = fn(spark.read.parquet(raw_paths[raw_table])).drop("loaded_at")
    unified = int_trips_unified(
        stg["stg_nyc_taxi__yellow_trips"],
        stg["stg_nyc_taxi__green_trips"],
        stg["stg_nyc_taxi__fhv_trips"],
        stg["stg_nyc_taxi__fhvhv_trips"],
    )
    enriched = int_trips_enriched(unified)
    cleaned = int_trips_cleaned(enriched)
    trips = fct_trips(cleaned.withColumn("loaded_at", F.lit(None).cast("timestamp")))
    return {
        "staging": stg,
        "unified": unified,
        "enriched": enriched,
        "cleaned": cleaned,
        "fct_trips": trips.drop("loaded_at"),
        "fct_trips_daily": fct_trips_daily(trips).drop("created_at"),
        "fct_trips_monthly": fct_trips_monthly(trips).drop("created_at"),
    }


def test_unified_schema_contract(spark_marts):
    df = spark_marts["unified"]
    assert tuple(c for c in df.columns if c != "loaded_at") == tuple(
        c for c in UNIFIED_COLUMNS if c != "loaded_at"
    )


def test_fct_trips_matches_oracle(spark_marts, raw_paths):
    duck = duckdb.connect()
    spark_pdf = spark_marts["fct_trips"].toPandas()
    duck_pdf = duck.sql(taxi_oracle.fct_trips_sql(raw_paths)).df()
    compare_frames(spark_pdf, duck_pdf, name="fct_trips")


def test_fct_trips_daily_matches_oracle(spark_marts, raw_paths):
    duck = duckdb.connect()
    spark_pdf = spark_marts["fct_trips_daily"].toPandas()
    duck_pdf = duck.sql(taxi_oracle.fct_trips_daily_sql(raw_paths)).df()
    compare_frames(spark_pdf, duck_pdf, name="fct_trips_daily")


def test_fct_trips_monthly_matches_oracle(spark_marts, raw_paths):
    duck = duckdb.connect()
    spark_pdf = spark_marts["fct_trips_monthly"].toPandas()
    duck_pdf = duck.sql(taxi_oracle.fct_trips_monthly_sql(raw_paths)).df()
    compare_frames(spark_pdf, duck_pdf, name="fct_trips_monthly")


def test_cleaned_precedence_quirk(spark_marts):
    """NULL-speed rows pass the cleaned filter even when low-quality
    (int_trips_cleaned.sql:17-19) — e.g. fhv rows with NULL locations."""
    cleaned = spark_marts["cleaned"]
    null_speed_low_quality = cleaned.filter(
        F.col("avg_speed_mph").isNull() & (F.col("is_high_quality_trip") == False)  # noqa: E712
    ).count()
    assert null_speed_low_quality > 0, "fixtures must exercise the quirk"
    # and no non-null-speed row >= 80 mph survives
    assert cleaned.filter(F.col("avg_speed_mph") >= 80).count() == 0


def test_assertion_suite_passes(spark_marts):
    suite = taxi_assertion_suite()
    assert len(suite) == 35
    models = {
        "stg_nyc_taxi__yellow_trips": spark_marts["staging"]["stg_nyc_taxi__yellow_trips"],
        "int_trips_unified": spark_marts["unified"],
        "int_trips_enriched": spark_marts["enriched"],
        "int_trips_cleaned": spark_marts["cleaned"],
        "fct_trips": spark_marts["fct_trips"],
        "fct_trips_daily": spark_marts["fct_trips_daily"],
        "fct_trips_monthly": spark_marts["fct_trips_monthly"],
    }
    results = run_assertions(models, suite)
    failed = [r for r in results if not r.passed]
    assert not failed, f"failing assertions: {[(r.name, r.failures) for r in failed]}"
    # singular tests (36 and 37)
    assert positive_fare_threshold(spark_marts["fct_trips"]).passed
    assert valid_speed(spark_marts["fct_trips"]).passed


@pytest.fixture(scope="module")
def violating_build(spark, raw_paths, tmp_path_factory):
    """A full pipeline build with violations injected: NULL trip_id and
    NULL pickup_datetime in yellow staging, bogus and NULL taxi_type in
    unified. Many of the NULL-trip_id rows fail the cleaned filter."""

    def bad_yellow(raw):
        stg = stg_yellow_trips(raw)
        h = F.abs(F.xxhash64("trip_id")) % 10
        return stg.withColumns(
            {
                "trip_id": F.when(h < 2, None).otherwise(F.col("trip_id")),
                "pickup_datetime": F.when(h == 9, None).otherwise(F.col("pickup_datetime")),
            }
        )

    def bad_unified(*staging):
        u = int_trips_unified(*staging)
        h = F.abs(F.xxhash64("pickup_datetime", "pickup_location_id")) % 20
        taxi_type = F.when(h == 0, "limo").when(h == 1, None).otherwise(F.col("taxi_type"))
        return u.withColumn("taxi_type", taxi_type)

    swap = {"stg_nyc_taxi__yellow_trips": bad_yellow, "int_trips_unified": bad_unified}
    models = [replace(m, fn=swap.get(m.name, m.fn)) for m in taxi_models()]
    wh = str(tmp_path_factory.mktemp("violating") / "warehouse")
    result = run_pipeline(spark, raw_paths, wh, models=models)
    assert result.ok, result.errors
    return result.built


def _counts(results):
    return [(r.name, r.model, r.failures) for r in results]


def test_fused_chain_scan_matches_per_model(violating_build):
    """The 9 intermediate checks, counted in one pass over
    int_trips_enriched, give exactly the per-model counts."""
    suite = taxi_assertion_suite()
    assert [a.scan for a in suite].count("int_trips_enriched") == 9
    fused = run_assertions(violating_build, suite)
    per_model = run_assertions(violating_build, [replace(a, scan=None) for a in suite])
    assert _counts(fused) == _counts(per_model)
    assert [r.name for r in fused] == [a.name for a in suite]

    failures = {r.name: r.failures for r in fused}
    for name in (
        "not_null__stg_nyc_taxi__yellow_trips__trip_id",
        "not_null__stg_nyc_taxi__yellow_trips__pickup_datetime",
        "not_null__int_trips_unified__taxi_type",
        "accepted_values__int_trips_unified__taxi_type",
    ):
        assert failures[name] > 0, name
    # the cleaned check applies the cleaned predicate: it sees fewer
    # NULL trip_ids than enriched, and exactly those cleaned keeps
    cleaned, enriched = (
        failures["not_null__int_trips_cleaned__trip_id"],
        failures["not_null__int_trips_enriched__trip_id"],
    )
    assert 0 < cleaned < enriched
    assert cleaned == violating_build["int_trips_cleaned"].filter(F.col("trip_id").isNull()).count()


def test_fused_scan_falls_back_to_model_when_scan_absent(violating_build):
    """A caller passing a partial dict without the scan model still gets
    each check counted over its own model."""
    partial = {m: violating_build[m] for m in ("int_trips_unified", "int_trips_cleaned")}
    subset = [a for a in taxi_assertion_suite() if a.model in partial]
    assert len(subset) == 5 and all(a.scan == "int_trips_enriched" for a in subset)
    fused = {r.name: r.failures for r in run_assertions(violating_build, subset)}
    assert {r.name: r.failures for r in run_assertions(partial, subset)} == fused


def _count_aggs(monkeypatch, df):
    """Record every ``agg`` call on DataFrames of ``df``'s class."""
    calls = []
    cls = type(df)
    agg = cls.agg
    monkeypatch.setattr(cls, "agg", lambda self, *e: calls.append(self) or agg(self, *e))
    return calls


def test_suite_runs_one_aggregate_per_scan(violating_build, monkeypatch):
    """7 models, 5 scans: stg yellow, the intermediate chain (once) and
    the three marts."""
    calls = _count_aggs(monkeypatch, violating_build["int_trips_enriched"])
    results = run_assertions(violating_build, taxi_assertion_suite())
    assert len(results) == 35
    assert len(calls) == 5


def test_enriched_only_adds_columns(spark_marts):
    """The fused chain scan reads unified's columns from
    int_trips_enriched: enriched must pass every unified column through
    untouched (same attribute, same position) and only append new ones."""

    def attrs(df):
        out = df._jdf.queryExecution().analyzed().output()
        return [out.apply(i).toString() for i in range(out.size())]

    unified, enriched = attrs(spark_marts["unified"]), attrs(spark_marts["enriched"])
    assert enriched[: len(unified)] == unified
    assert len(enriched) > len(unified)


def test_watermark_filter_single_aggregate(spark, monkeypatch):
    """One max(struct(year, month)) aggregate gives the two-subquery
    watermark: max year, then max month within it, NULLs ignored."""
    raw = spark.createDataFrame(
        [(y, m) for y in (2023, 2024, 2025) for m in (1, 6, 12)], "year int, month int"
    )

    def kept(target_rows):
        target = spark.createDataFrame(target_rows, "year int, month int")
        return sorted(tuple(r) for r in incremental_watermark_filter(raw, target).collect())

    every = sorted(tuple(r) for r in raw.collect())
    assert kept([(2024, 6), (2024, None), (2023, 12), (None, 12)]) == [
        (2024, 6), (2024, 12), (2025, 1), (2025, 6), (2025, 12)
    ]
    # max year holds only NULL months: month >= NULL keeps no row of it
    assert kept([(2024, None), (2023, 12)]) == [(2025, 1), (2025, 6), (2025, 12)]
    assert kept([(None, 6)]) == every
    assert kept([]) == every
    assert incremental_watermark_filter(raw, None) is raw

    calls = _count_aggs(monkeypatch, raw)
    kept([(2024, 6)])
    assert len(calls) == 1


@pytest.mark.parametrize(
    "months, want",
    [
        # months 9 and 10: the directory strings must rank as numbers
        ([(2023, 12), (2024, 9), (2024, 10), (2024, 2)], (2024, 10)),
        ([(None, 12), (2024, 6), (2023, 7)], (2024, 6)),
        ([(None, 3)], (None, 3)),
        ([(2024, None), (2023, 12)], (2024, None)),
        ([(2024, None), (2024, 3), (2023, 12)], (2024, 3)),
        ([], None),
    ],
)
def test_listed_watermark_matches_aggregate(spark, tmp_path, months, want):
    """The watermark read from a target's partition directories equals
    ``max(struct(year, month))`` over the same table, and both filter the
    raw input alike: normal months, a NULL year partition, a NULL month
    in the max year, and a table with no partitions (missing, or an empty
    directory)."""
    path = str(tmp_path / "target")
    raw = spark.createDataFrame(
        [(y, m) for y in (2023, 2024, 2025) for m in (1, 3, 6, 10, 12)], "year int, month int"
    )
    if months:
        data = [(i, y, m) for i, (y, m) in enumerate(months)]
        target = spark.createDataFrame(data, "k int, year int, month int")
        target.write.partitionBy("year", "month").parquet(path)
        target = spark.read.parquet(path)
    else:
        target = spark.createDataFrame([], "k int, year int, month int")
    mx = target.agg(F.max(F.struct("year", "month")).alias("w")).first().w
    assert (None if mx is None else tuple(mx)) == want

    listed = partition_watermark(partition_values(spark, path, ("year", "month")))
    assert listed == want
    if not months:
        (tmp_path / "target").mkdir()
        assert partition_values(spark, path, ("year", "month")) == []

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(watermark_filter(raw, listed)) == rows(incremental_watermark_filter(raw, target))


@pytest.fixture(scope="module")
def build_jobs(spark, raw_paths, tmp_path_factory):
    """A full build, then an incremental re-run, each in its own job
    group: (warehouse, {"full"/"incremental": (result, Spark job count)})."""
    sc = spark.sparkContext
    wh = str(tmp_path_factory.mktemp("job_budget") / "warehouse")
    runs = {}
    for run in ("full", "incremental"):
        group = f"taxi-{run}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = run_pipeline(spark, raw_paths, wh)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert result.ok, result.errors
        runs[run] = (result, len(sc.statusTracker().getJobIdsForGroup(group)))
    return wh, runs


#: Spark jobs per build at fixture scale: a staging model runs 3 in a
#: first build and 4 in an incremental one (the raw read's schema
#: inference and 3 write jobs: its watermark comes from the target's
#: partition directories and also scopes the delete), fct_trips 1 and each
#: mart 2 (no Expand), and every materialized model is read back with a
#: known schema.
JOB_BUDGET = {"full": 17, "incremental": 21}


@pytest.mark.parametrize("run", ["full", "incremental"])
def test_build_job_budget(build_jobs, run):
    """Job counts repeat exactly from run to run: a count above the budget
    is a new fixed cost in the build, not noise."""
    _wh, runs = build_jobs
    assert runs[run][1] <= JOB_BUDGET[run], runs[run][1]


def test_fct_trips_written_as_one_file(build_jobs):
    """fct_trips is written in data-sized tasks: one file at fixture
    scale, not one per staging file it scans (8 here)."""
    wh, _runs = build_jobs
    files = [f for f in os.listdir(f"{wh}/fct_trips") if f.endswith(".parquet")]
    assert len(files) == 1, files


@pytest.mark.parametrize("mart", [fct_trips_daily, fct_trips_monthly])
def test_marts_plan_no_expand(spark_marts, mart):
    """The marts' distinct counts are set sizes: one partial/final
    aggregate, no Expand of every row per distinct column."""
    plan = mart(spark_marts["fct_trips"].withColumn("loaded_at", F.current_timestamp()))
    physical = plan._jdf.queryExecution().sparkPlan().toString()
    assert "HashAggregate" in physical
    assert "Expand" not in physical, physical


def test_count_distinct_equals_countDistinct(spark):
    """size(collect_set) cast to bigint equals countDistinct: NULLs are
    ignored, an all-NULL group and an empty input give 0, and the schema
    (bigint, not nullable) is the same."""
    df = spark.createDataFrame(
        [(1, None), (1, None), (2, 5), (2, 5), (2, 7), (2, None), (3, 4)], "g int, x long"
    )
    got = df.groupBy("g").agg(count_distinct("x").alias("n"))
    want = df.groupBy("g").agg(F.countDistinct("x").alias("n"))
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect()) == [(1, 0), (2, 2), (3, 1)]
    empty = df.filter(F.lit(False))
    got, want = empty.agg(count_distinct("x")), empty.agg(F.countDistinct("x"))
    assert got.schema.fields[0].dataType == want.schema.fields[0].dataType
    assert got.schema.fields[0].nullable == want.schema.fields[0].nullable
    assert got.first()[0] == want.first()[0] == 0


@pytest.mark.parametrize("run", ["full", "incremental"])
def test_read_back_matches_plain_read(spark, build_jobs, run):
    """Each of the 7 materialized models is read back with the schema of
    the frame just written. That frame equals a plain read of its path:
    names, order, types, nullability and rows."""
    wh, runs = build_jobs
    result = runs[run][0]
    materialized = [m.name for m in taxi_models() if m.materialized in ("incremental", "table")]
    assert len(materialized) == 7
    for name in materialized:
        got, plain = result.built[name], spark.read.parquet(f"{wh}/{name}")
        assert got.schema == plain.schema, name
        if run == "incremental":  # the full build's files were since rewritten
            assert got.exceptAll(plain).count() == 0 and plain.exceptAll(got).count() == 0, name
            assert got.count() == plain.count() > 0, name


def _month_delivery(tables, month):
    """The January rows of each fixture table moved to ``month`` of 2023
    (days 1-27 stay inside it), year/month recomputed from the pickup."""
    out = {}
    for name, pdf in tables.items():
        pickup = next(c for c in pdf.columns if c.endswith("pickup_datetime"))
        shift = pd.Timestamp(2023, month, 1) - pd.Timestamp(2023, 1, 1)
        pdf = pdf[pdf["month"] == 1].copy()
        for c in (c for c in pdf.columns if c.endswith("_datetime")):
            pdf[c] = pdf[c] + shift
        pdf["year"] = pdf[pickup].dt.year.fillna(2023).astype("int32")
        pdf["month"] = pdf[pickup].dt.month.fillna(month).astype("int32")
        out[name] = pdf
    return out


def test_incremental_runs_equal_full_refresh(spark, tmp_path):
    """Monthly incremental builds over six months equal a full_refresh
    build over the same raw tables, row for row, in every materialized
    model (audit timestamps excluded). The deliveries: a Jan-Feb backfill,
    then March to June. April's re-delivers a March yellow trip with a
    corrected fare (same trip_id, so the watermark batch holds the key
    twice and both rows stay, as in a full build). May's fhv delivery has
    no valid row, so that model's watermark stays at April and June's
    batch re-reads April and May."""
    base = generate_raw_tables(n=400)
    deliveries = [base] + [_month_delivery(base, m) for m in (3, 4, 5, 6)]
    march = deliveries[1]["yellow_trips"]
    redelivered = march[march["tpep_pickup_datetime"].notna()].iloc[[7]].copy()
    redelivered["fare_amount"] += 1.0
    deliveries[2]["yellow_trips"] = pd.concat([deliveries[2]["yellow_trips"], redelivered])
    deliveries[3]["fhv_trips"] = deliveries[3]["fhv_trips"].assign(pickup_datetime=pd.NaT)

    raw = {name: str(tmp_path / "raw" / name) for name in base}
    inc, full = str(tmp_path / "incremental"), str(tmp_path / "full")
    for i, tables in enumerate(deliveries):
        for name, pdf in tables.items():
            src = str(tmp_path / "landing" / str(i) / f"{name}.parquet")
            os.makedirs(os.path.dirname(src), exist_ok=True)
            pdf.to_parquet(src, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
            append_partitioned(spark.read.parquet(src), raw[name])
        result = run_pipeline(spark, raw, inc)
        assert result.ok, result.errors
        if i == 0:
            assert run_pipeline(spark, raw, full).ok
    result = run_pipeline(spark, raw, full, full_refresh=True)
    assert result.ok, result.errors

    months = spark.read.parquet(f"{inc}/fct_trips").select("month").distinct()
    assert sorted(r.month for r in months.collect()) == [1, 2, 3, 4, 5, 6]
    fhv = spark.read.parquet(f"{inc}/stg_nyc_taxi__fhv_trips")
    assert fhv.filter("month = 5").count() == 0 and fhv.filter("month = 6").count() > 0
    for model in taxi_models():
        if model.materialized not in ("incremental", "table"):
            continue
        got, want = (
            spark.read.parquet(f"{wh}/{model.name}").drop("loaded_at", "created_at")
            for wh in (inc, full)
        )
        assert got.count() == want.count() > 0, model.name
        if model.name in ("fct_trips_daily", "fct_trips_monthly"):
            # The two builds lay out their staging files differently, so
            # the marts sum fct_trips' equal rows in different orders and
            # a double sum may differ in its last bit; a 2-decimal round
            # of a value on a half cent then differs by 0.01 (seen here,
            # where the month copies repeat January's values).
            got, want = (
                df.toPandas().sort_values(list(df.columns[:4])).reset_index(drop=True)
                for df in (got, want)
            )
            pd.testing.assert_frame_equal(got, want, check_exact=False, rtol=0, atol=0.0101)
        else:
            assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0, model.name


def test_surrogate_key_duplicates_survive_staging(spark_marts):
    """Key collisions are kept by the models (dedup only happens at the
    incremental delete+insert boundary)."""
    stg = spark_marts["staging"]["stg_nyc_taxi__yellow_trips"]
    dups = stg.groupBy("trip_id").count().filter(F.col("count") > 1).count()
    assert dups > 0


def test_full_pipeline_runner(spark, raw_paths, tmp_path):
    wh = str(tmp_path / "warehouse")
    result = run_pipeline(spark, raw_paths, wh)
    assert result.ok, result.errors
    assert set(result.built) == {m.name for m in taxi_models()}
    total = spark.read.parquet(f"{wh}/fct_trips").count()
    assert total > 0
    # idempotent re-run: incremental delete+insert of the max partition
    # must not duplicate rows
    result2 = run_pipeline(spark, raw_paths, wh)
    assert result2.ok, result2.errors
    assert spark.read.parquet(f"{wh}/fct_trips").count() == total
    # ad-hoc SQL over the registered marts (the Trino-endpoint equivalent)
    flagship = spark.sql(
        "SELECT taxi_type, count(*) AS total_trips FROM fct_trips GROUP BY taxi_type"
    )
    assert flagship.count() == 4


def _codegen_compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_incremental_rerun_reuses_compiled_classes(spark, raw_paths, tmp_path):
    """A steady incremental pass (build + suite) fits the session's
    codegen cache. The second re-run compiles 18 classes, 12 of them
    stages whose generated code inlines a per-run timestamp literal (the
    ``loaded_at`` and ``created_at`` audit columns). With Spark's default
    100-entry cache the pass's classes evict each other and it compiles 97."""
    wh = str(tmp_path / "warehouse")

    def scheduled_run():
        result = run_pipeline(spark, raw_paths, wh)
        assert result.ok, result.errors
        failed = [r.name for r in run_assertions(result.built, taxi_assertion_suite()) if not r.passed]
        assert not failed

    scheduled_run()  # full build
    scheduled_run()  # first incremental re-run compiles its own new shapes
    before = _codegen_compiles(spark)
    scheduled_run()
    compiles = _codegen_compiles(spark) - before
    assert compiles <= 25, compiles


@pytest.mark.slow
def test_snapshot_staging_model_constraint_and_schema_drift(spark, raw_paths, tmp_path):
    """One staging model materialized through snapshot tables: the CHECK
    constraint mirrors the validity filter, an idempotent re-run is a
    single ACID merge commit, and a model revision that adds a column
    evolves the table schema in place — dbt
    on_schema_change='append_new_columns' (stg_nyc_taxi__yellow_trips.sql:5)
    enforced by the table, not by convention."""
    from lakehouse_platform_nyc_taxi_spark.sources import snapshots as snap

    wh = str(tmp_path / "warehouse")
    models = taxi_models(snapshot_staging=["stg_nyc_taxi__yellow_trips"])
    result = run_pipeline(spark, raw_paths, wh, models=models)
    assert result.ok, result.errors

    path = f"{wh}/stg_nyc_taxi__yellow_trips"
    assert snap.table_constraints(path) == {
        "non_negative_total": "total_amount >= 0"
    }
    n = snap.read_table(spark, path).count()
    assert n > 0
    # pipeline downstream marts agree with the plain-incremental run
    plain_wh = str(tmp_path / "plain")
    plain = run_pipeline(spark, raw_paths, plain_wh)
    assert plain.ok
    assert (
        spark.read.parquet(f"{wh}/fct_trips").count()
        == spark.read.parquet(f"{plain_wh}/fct_trips").count()
    )

    # idempotent re-run: the watermark increment replaces the max
    # partition's keys via ONE merge commit — no duplication
    result2 = run_pipeline(spark, raw_paths, wh, models=models)
    assert result2.ok, result2.errors
    assert snap.read_table(spark, path).count() == n
    assert snap.history(path)[-1]["op"] == "merge-update"

    # model revision adds a column -> schema drift flows through the
    # merge as an in-place evolution; old rows read NULL
    from lakehouse_platform_nyc_taxi_spark.models.staging import (
        STAGING_MODELS,
        stg_yellow_trips,
    )

    def stg_yellow_v2(raw):
        return stg_yellow_trips(raw).withColumn(
            "airport_fee", F.lit(1.25).cast("double")
        )

    drifted = [
        Model(
            name=m.name,
            deps=m.deps,
            fn=stg_yellow_v2 if m.name == "stg_nyc_taxi__yellow_trips" else m.fn,
            materialized=m.materialized,
            unique_key=m.unique_key,
            partition_by=m.partition_by,
            constraints=m.constraints,
        )
        for m in models
        if m.name in STAGING_MODELS
    ]
    result3 = run_pipeline(spark, raw_paths, wh, models=drifted)
    assert result3.ok, result3.errors
    evolved = snap.read_table(spark, path)
    assert "airport_fee" in evolved.columns
    assert evolved.count() == n
    # untouched (pre-drift, non-max-partition) rows read NULL for the
    # new column; re-merged max-partition rows carry the value
    assert evolved.filter(F.col("airport_fee").isNull()).count() > 0
    assert evolved.filter(F.col("airport_fee") == 1.25).count() > 0

    # the constraint still guards the table: a raw writer bypassing the
    # model cannot land violating rows
    bad = evolved.limit(1).withColumn("total_amount", F.lit(-5.0))
    with pytest.raises(ValueError, match="violates CHECK"):
        snap.append(bad, path)


def test_guarded_join_catches_dim_fanout(spark):
    from lakehouse_platform_nyc_taxi_spark.quality.observers import (
        ExpectationError,
        guarded_join,
    )

    fact = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id long, k string")
    good_dim = spark.createDataFrame([("a", 10), ("b", 20)], "k string, v long")
    out, verify = guarded_join(fact, good_dim, "k")
    assert out.count() == 3
    assert verify() == {"left_rows": 3, "out_rows": 3}

    dup_dim = spark.createDataFrame(
        [("a", 10), ("a", 11), ("b", 20)], "k string, v long"
    )
    out, verify = guarded_join(fact, dup_dim, "k")
    assert out.count() == 5  # silent fan-out the guard must surface
    try:
        verify()
        raise AssertionError("fan-out not detected")
    except ExpectationError as e:
        assert e.counts == {"join_fanout_extra_rows": 2}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="left/inner"):
        guarded_join(fact, good_dim, "k", how="full")
