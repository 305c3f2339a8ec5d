"""Sink semantics: partitioned append, partition delete/probe, and the
delete+insert incremental materializer (SURVEY.md S6/S9/S11/S12)."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from lakehouse_platform_nyc_taxi_spark.sources.writers import (
    append_partitioned,
    delete_partition,
    incremental_delete_insert,
    overwrite_table,
    partition_exists,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id string, v long, year int, month int")


def test_append_and_partition_ops(spark, tmp_path):
    path = str(tmp_path / "t")
    append_partitioned(_mk(spark, [("a", 1, 2023, 1), ("b", 2, 2023, 2)]), path)
    append_partitioned(_mk(spark, [("c", 3, 2023, 2)]), path)
    assert spark.read.parquet(path).count() == 3
    assert partition_exists(spark, path, {"year": 2023, "month": 2})
    assert not partition_exists(spark, path, {"year": 2024, "month": 1})

    delete_partition(spark, path, {"year": 2023, "month": 2})
    left = spark.read.parquet(path)
    assert left.count() == 1
    assert left.first().id == "a"


def test_partition_exists_launches_no_job(spark, tmp_path):
    """The probe answers from the partition directory: a present, an
    absent and a missing-table probe run no Spark job between them."""
    path = str(tmp_path / "t")
    append_partitioned(_mk(spark, [("a", 1, 2023, 1)]), path)
    sc = spark.sparkContext
    group = f"partition-exists-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        probes = [
            partition_exists(spark, path, {"year": 2023, "month": 1}),
            partition_exists(spark, path, {"year": 2023, "month": 2}),
            partition_exists(spark, str(tmp_path / "missing"), {"year": 2023, "month": 1}),
        ]
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert probes == [True, False, False]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


def test_incremental_delete_insert(spark, tmp_path):
    path = str(tmp_path / "inc")
    # First run = CTAS.
    incremental_delete_insert(
        spark, _mk(spark, [("k1", 1, 2023, 1), ("k2", 1, 2023, 2)]), path, ["id"]
    )
    # Second run: replaces k2, adds k3; k1's partition untouched.
    incremental_delete_insert(
        spark, _mk(spark, [("k2", 99, 2023, 2), ("k3", 1, 2023, 2)]), path, ["id"]
    )
    got = {(r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {("k1", 1), ("k2", 99), ("k3", 1)}


def test_incremental_keeps_within_batch_duplicates(spark, tmp_path):
    """Faithful quirk: delete+insert does not dedup the incoming batch."""
    path = str(tmp_path / "dup")
    incremental_delete_insert(spark, _mk(spark, [("k", 1, 2023, 1)]), path, ["id"])
    incremental_delete_insert(
        spark, _mk(spark, [("k", 2, 2023, 1), ("k", 3, 2023, 1)]), path, ["id"]
    )
    df = spark.read.parquet(path)
    assert df.count() == 2
    assert {r.v for r in df.collect()} == {2, 3}


def test_incremental_table_scope_deletes_cross_partition(spark, tmp_path):
    """delete_scope='table' removes a re-delivered key from its OLD
    partition when the corrected row lands in a different month
    (partition scope — the default — would leave the stale row)."""
    path = str(tmp_path / "xpart")
    incremental_delete_insert(
        spark, _mk(spark, [("k1", 1, 2023, 1), ("k2", 1, 2023, 1)]), path, ["id"]
    )
    # k1's corrected timestamp moves it to month 2.
    moved = _mk(spark, [("k1", 99, 2023, 2)])

    incremental_delete_insert(spark, moved, path, ["id"], delete_scope="table")
    got = {(r.id, r.v, r.month) for r in spark.read.parquet(path).collect()}
    assert got == {("k1", 99, 2), ("k2", 1, 1)}

    # Default partition scope documents the divergence: stale k1 stays.
    path2 = str(tmp_path / "xpart2")
    incremental_delete_insert(
        spark, _mk(spark, [("k1", 1, 2023, 1), ("k2", 1, 2023, 1)]), path2, ["id"]
    )
    incremental_delete_insert(spark, moved, path2, ["id"])
    ids = sorted(r.id for r in spark.read.parquet(path2).collect())
    assert ids == ["k1", "k1", "k2"]


def test_incremental_delete_insert_returns_rewritten_partitions(spark, tmp_path):
    """The partitions a run rewrote, sorted NULL first; ``[]`` for an
    empty batch; ``None`` when the run wrote the whole table."""
    path = str(tmp_path / "ret")
    first = _mk(spark, [("k1", 1, 2023, 1), ("k2", 1, 2023, 2)])
    assert incremental_delete_insert(spark, first, path, ["id"]) is None
    two_months = _mk(
        spark, [("k3", 1, 2024, 1), ("k2", 9, 2023, 2), ("k4", 1, 2023, 2), ("k5", 1, 2024, 1)]
    )
    assert incremental_delete_insert(spark, two_months, path, ["id"]) == [(2023, 2), (2024, 1)]
    assert incremental_delete_insert(spark, _mk(spark, []), path, ["id"]) == []
    null_month = _mk(spark, [("k6", 1, 2023, 2), ("k7", 1, 2023, None)])
    assert incremental_delete_insert(spark, null_month, path, ["id"]) == [(2023, None), (2023, 2)]
    assert incremental_delete_insert(spark, first, path, ["id"], delete_scope="table") is None
    got = {(r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {("k1", 1), ("k2", 1), ("k3", 1), ("k4", 1), ("k5", 1), ("k6", 1), ("k7", 1)}


def test_incremental_column_scope_deletes_keys_from_scope_partitions(spark, tmp_path):
    """A Column scope anti-joins every partition it selects, also one the
    batch has no row in: a key re-delivered into a later month leaves the
    watermark partition, as with ``delete_scope="table"`` (dbt's
    table-wide delete). The partition scope leaves that partition alone
    and keeps the stale row. Nothing is collected, so nothing returns."""
    first = _mk(spark, [("k1", 1, 2022, 12), ("k2", 1, 2023, 2), ("k3", 1, 2023, 2)])
    batch = _mk(spark, [("k2", 9, 2023, 3), ("k4", 1, 2023, 3)])
    watermark = (F.col("year") > 2023) | ((F.col("year") == 2023) & (F.col("month") >= 2))

    def final(scope):
        path = str(tmp_path / uuid.uuid4().hex)
        incremental_delete_insert(spark, first, path, ["id"])
        out = incremental_delete_insert(spark, batch, path, ["id"], delete_scope=scope)
        return out, sorted((r.id, r.v, r.month) for r in spark.read.parquet(path).collect())

    want = [("k1", 1, 12), ("k2", 9, 3), ("k3", 1, 2), ("k4", 1, 3)]
    assert final(watermark) == (None, want)
    assert final("table") == (None, want)
    assert final("partition") == ([(2023, 3)], sorted(want + [("k2", 1, 2)]))


def test_incremental_batch_adding_a_column_reads_null_in_old_rows(spark, tmp_path):
    """The target is read with the batch's schema, so a column the batch
    adds is NULL in the old rows (dbt ``append_new_columns``); reading the
    target's own schema made the union fail on the missing column."""
    wide = spark.createDataFrame(
        [("k2", 9, "fix", 2023, 2), ("k3", 1, None, 2023, 2)],
        "id string, v long, note string, year int, month int",
    )
    for scope in ("partition", F.col("month") >= 2):
        path = str(tmp_path / uuid.uuid4().hex)
        incremental_delete_insert(
            spark, _mk(spark, [("k1", 1, 2023, 1), ("k2", 1, 2023, 2), ("k4", 1, 2023, 2)]),
            path, ["id"],
        )
        incremental_delete_insert(spark, wide, path, ["id"], delete_scope=scope)
        got = spark.read.option("mergeSchema", "true").parquet(path)
        assert sorted((r.id, r.v, r.note) for r in got.collect()) == [
            ("k1", 1, None), ("k2", 9, "fix"), ("k3", 1, None), ("k4", 1, None)
        ]


def test_overwrite_table(spark, tmp_path):
    path = str(tmp_path / "ctas")
    overwrite_table(_mk(spark, [("a", 1, 2023, 1)]), path)
    overwrite_table(_mk(spark, [("b", 2, 2023, 1)]), path)
    df = spark.read.parquet(path)
    assert df.count() == 1 and df.first().id == "b"


def test_events_nanos_loader(spark):
    from lakehouse_platform_nyc_taxi_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(ev.dtypes)["ts"].startswith("timestamp")
    assert ev.count() > 0
    # truncation (not rounding) to µs: max fraction survives
    assert ev.filter(F.col("ts").isNull()).count() == 0


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key + count join with zero shuffle:
    the scale story for repeated fact-to-fact joins."""
    from lakehouse_platform_nyc_taxi_spark.sources.testdata import load_table
    from lakehouse_platform_nyc_taxi_spark.sources.writers import write_bucketed

    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    write_bucketed(
        o, "b_orders", 4, ["o_orderkey"], sort_cols=["o_orderkey"],
        path=str(tmp_path / "b_orders"),
    )
    write_bucketed(
        li, "b_lineitem", 4, ["l_orderkey"], sort_cols=["l_orderkey"],
        path=str(tmp_path / "b_lineitem"),
    )
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_orders").join(
                spark.table("b_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            assert joined.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_compact_table_reduces_files(spark, tmp_path):
    from lakehouse_platform_nyc_taxi_spark.sources.writers import compact_table

    path = str(tmp_path / "frag")
    df = spark.range(10000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(path)
    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 40
    compact_table(spark, path, target_file_mb=128)
    after = len(glob.glob(f"{path}/*.parquet"))
    assert after < before
    got = spark.read.parquet(path)
    assert got.count() == 10000
    assert got.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]


def test_compact_table_partitioned_keeps_layout(spark, tmp_path):
    from lakehouse_platform_nyc_taxi_spark.sources.writers import compact_table

    path = str(tmp_path / "fragp")
    df = spark.range(4000).withColumn("year", (F.col("id") % 2 + 2023).cast("int"))
    df.repartition(20).write.partitionBy("year").parquet(path)
    import glob

    before = len(glob.glob(f"{path}/year=*/*.parquet"))
    compact_table(spark, path, target_file_mb=128, partition_by=["year"])
    after = len(glob.glob(f"{path}/year=*/*.parquet"))
    assert after < before
    assert sorted(glob.glob(f"{path}/year=*")) == [f"{path}/year=2023", f"{path}/year=2024"]
    assert spark.read.parquet(path).count() == 4000


def test_sorted_write_produces_disjoint_file_ranges(spark, tmp_path):
    from lakehouse_platform_nyc_taxi_spark.sources.writers import sorted_write

    path = str(tmp_path / "sorted")
    df = spark.range(20000).withColumn("key", (F.col("id") * 7919) % 10007)
    sorted_write(df, path, ["key"], n_files=4)

    import glob

    import pyarrow.parquet as pq

    ranges = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        stats = [md.row_group(i).column(1).statistics for i in range(md.num_row_groups)]
        assert md.schema.column(1).name == "key"
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # globally disjoint ranges -> predicate prunes files
    assert spark.read.parquet(path).count() == 20000


def test_dynamic_partition_overwrite_touches_only_present_partitions(
    spark, tmp_path
):
    from lakehouse_platform_nyc_taxi_spark.sources.writers import (
        dynamic_partition_overwrite,
    )

    path = str(tmp_path / "dpo")
    base = spark.createDataFrame(
        [(1, 2023, 1), (2, 2023, 2), (3, 2023, 3)], "id long, year int, month int"
    )
    dynamic_partition_overwrite(base, path, ["year", "month"])
    # re-ingest month 2 with different rows; months 1 and 3 must survive
    redo = spark.createDataFrame(
        [(20, 2023, 2), (21, 2023, 2)], "id long, year int, month int"
    )
    dynamic_partition_overwrite(redo, path, ["year", "month"])
    got = {
        (r.year, r.month, r.id) for r in spark.read.parquet(path).collect()
    }
    assert got == {(2023, 1, 1), (2023, 2, 20), (2023, 2, 21), (2023, 3, 3)}


def test_format_round_trips_orc_json_csv_and_codecs(spark, tmp_path):
    """Source-format coverage beyond parquet: ORC, JSON-lines and CSV
    round-trip with schema + values intact, and parquet writes honor
    explicit compression codecs (zstd/snappy) while staying readable."""
    from lakehouse_platform_nyc_taxi_spark.sources.testdata import load_table

    src = (
        load_table(spark, "/root/testdata/sf0.001", "nation")
        .orderBy("n_nationkey")
    )
    want = [tuple(r) for r in src.collect()]
    # ORC
    p = str(tmp_path / "orc")
    src.write.format("orc").save(p)
    got = [tuple(r) for r in spark.read.format("orc").load(p).orderBy("n_nationkey").collect()]
    assert got == want
    # JSON lines (schema supplied on read: JSON erases int width)
    p = str(tmp_path / "json")
    src.write.format("json").save(p)
    got = [
        tuple(r)
        for r in spark.read.schema(src.schema).json(p).orderBy("n_nationkey").collect()
    ]
    assert got == want
    # CSV with header
    p = str(tmp_path / "csv")
    src.write.option("header", True).csv(p)
    got = [
        tuple(r)
        for r in spark.read.option("header", True)
        .schema(src.schema)
        .csv(p)
        .orderBy("n_nationkey")
        .collect()
    ]
    assert got == want
    # Parquet codec matrix
    import glob as _glob

    for codec, ext in (("zstd", ".zstd.parquet"), ("snappy", ".snappy.parquet")):
        p = str(tmp_path / f"pq_{codec}")
        src.write.option("compression", codec).parquet(p)
        files = _glob.glob(p + "/*.parquet")
        assert files and all(f.endswith(ext) for f in files), (codec, files)
        got = [tuple(r) for r in spark.read.parquet(p).orderBy("n_nationkey").collect()]
        assert got == want


def test_prune_stale_staging_removes_only_old_sibling_dirs(tmp_path, monkeypatch):
    """Session-start housekeeping (ADVICE r17): sibling app dirs whose
    ENTIRE subtree is past the age cutoff are pruned; fresh ones, dirs
    with any recent write (a live soak session), and unreadable roots
    are left alone."""
    import os
    import time

    from lakehouse_platform_nyc_taxi_spark import session as sess

    root = tmp_path / "spark_graft_s9"
    old = root / "app-old" / "sf0.1" / "orders"
    fresh = root / "app-fresh" / "sf0.1" / "orders"
    soak = root / "app-soak" / "sf0.1" / "orders"
    for d in (old, fresh, soak):
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x")
    stale_t = time.time() - sess._STAGING_MAX_AGE_SEC - 60
    for app in ("app-old", "app-soak"):
        for dirpath, _dirs, files in os.walk(root / app):
            for p in (dirpath, *(os.path.join(dirpath, f) for f in files)):
                os.utime(p, (stale_t, stale_t))
    # the soak app wrote recently somewhere in its subtree -> must survive
    os.utime(soak / "part-0.parquet", None)

    monkeypatch.setattr(
        sess, "_STAGING_ROOTS", (str(root), str(tmp_path / "does-not-exist"))
    )
    sess._prune_stale_staging()

    assert not (root / "app-old").exists()
    assert fresh.exists()
    assert soak.exists()


def test_staging_root_literal_matches_the_s9_writer():
    """session._STAGING_ROOTS must cover the staging root the S9
    incremental query actually writes (the literal is duplicated because
    the r17-attested query body cannot be edited to share a constant);
    this pins the two copies together so a future rename cannot silently
    turn the session-start pruner into a no-op."""
    import inspect

    from lakehouse_platform_nyc_taxi_spark import session as sess
    from lakehouse_platform_nyc_taxi_spark.harness import core

    src = inspect.getsource(core.incremental_delete_insert)
    root = sess._STAGING_ROOTS[0]
    assert f'"{root}/' in src or f"'{root}/" in src, (
        f"S9 writer no longer stages under {root}; update "
        "session._STAGING_ROOTS to match"
    )
