"""Table sinks: partitioned append, overwrite (CTAS), incremental upsert.

Mirrors the reference's sink surface (SURVEY.md §2.1) on plain parquet —
the container has no Delta/Iceberg jars, so DML (DELETE/MERGE) is
re-expressed as partition-scoped rewrites, which is also the strategy
that scales: only the `(year, month)` partitions present in the incoming
batch are read and rewritten, never the whole table.

Reference parity notes:
- S6 partitioned append (ingest_spark_bulk.py:147-152): append +
  mergeSchema stands in for Iceberg ``accept-any-schema``.
- S9 incremental delete+insert (stg_nyc_taxi__yellow_trips.sql:2-8):
  delete target rows whose key appears in the batch, then insert the
  batch. Duplicates *within* one batch survive — that quirk is kept.
- S12 partition delete (ingest_spark_bulk.py:71-81): dynamic partition
  overwrite of the named partition.
"""

from __future__ import annotations

from collections.abc import Sequence
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence check — avoids read-and-catch (which logs a
    JVM stack trace even when handled)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def nulls_first(values: Sequence) -> tuple:
    """Sort key for partition tuples in Spark's struct order: field by
    field, NULL below every value."""
    return tuple((v is not None, v) for v in values)


def partition_values(
    spark: SparkSession, path: str, partition_by: Sequence[str]
) -> list[tuple[str | None, ...]]:
    """The partition tuples a hive-layout table holds, from its directory
    names alone: one Hadoop ``globStatus`` of ``col=*/col=*``, no Spark
    job and no data or footer read. Values come back as the unescaped
    directory strings, ``None`` for ``__HIVE_DEFAULT_PARTITION__``; a
    missing or empty table has none.
    """
    jpath = spark._jvm.org.apache.hadoop.fs.Path(
        path + "".join(f"/{c}=*" for c in partition_by)
    )
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = []
    for status in fs.globStatus(jpath) or []:
        names = status.getPath().toUri().getPath().split("/")[-len(partition_by):]
        values = (unquote(n.split("=", 1)[1]) for n in names)
        out.append(tuple(None if v == "__HIVE_DEFAULT_PARTITION__" else v for v in values))
    return out


def read_back(df: DataFrame, path: str) -> DataFrame:
    """Read the table just written from ``df`` without a schema-inference
    job: ``df.schema`` is supplied, so no parquet footer is read. The frame
    equals a plain ``spark.read.parquet(path)``: Spark places partition
    columns after the data columns in directory order, and a file source
    forces every field nullable, so ``IS NULL`` checks downstream are not
    folded away by a non-null flag of the writing plan.
    """
    return df.sparkSession.read.schema(df.schema).parquet(path)


def append_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = ("year", "month"),
    merge_schema: bool = True,
) -> None:
    """S6: partitioned append with schema drift tolerated."""
    (
        df.write.mode("append")
        .option("mergeSchema", str(merge_schema).lower())
        .partitionBy(*partition_by)
        .parquet(path)
    )


def overwrite_table(
    df: DataFrame, path: str, partition_by: Sequence[str] | None = None
) -> None:
    """S7: CTAS-style full materialization."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _partition_dir(spark: SparkSession, path: str, partition_values: dict[str, object]):
    """The Hadoop path of one hive-layout partition directory,
    ``path/col=val/...``, and its filesystem."""
    subdir = "/".join(f"{col}={val}" for col, val in partition_values.items())
    jpath = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/{subdir}")
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def delete_partition(
    spark: SparkSession,
    path: str,
    partition_values: dict[str, object],
) -> None:
    """S12: idempotent re-ingest — drop one partition.

    A metadata-style delete (the parquet analogue of Iceberg's
    ``DELETE FROM t WHERE year=Y AND month=M``): remove the partition
    directory, never touching data in other partitions.
    """
    jpath, fs = _partition_dir(spark, path, partition_values)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def partition_exists(spark: SparkSession, path: str, partition_values: dict[str, object]) -> bool:
    """S11: partition existence probe; missing table -> False.

    One Hadoop ``exists`` of the partition directory: no Spark job, no
    schema inference and no data read.
    """
    jpath, fs = _partition_dir(spark, path, partition_values)
    return bool(fs.exists(jpath))


def incremental_delete_insert(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    unique_key: Sequence[str],
    partition_by: Sequence[str] = ("year", "month"),
    delete_scope: str | Column = "partition",
) -> list[tuple] | None:
    """S9: dbt ``incremental_strategy='delete+insert'`` on parquet.

    First run -> plain CTAS. Subsequent runs: within the delete scope,
    drop existing rows whose ``unique_key`` appears in the batch (left-anti
    join), union the batch, and dynamically overwrite only the partitions
    that result holds. Rows outside the scope are never read or
    rewritten, so cost scales with the increment, not the table.

    The target is read with ``batch.schema``: no schema-inference job, and
    a column the batch adds reads as NULL in the old rows, which is dbt's
    ``on_schema_change='append_new_columns'``.

    Faithful quirk: the incoming batch is NOT deduplicated — delete+insert
    keeps within-batch duplicates (SURVEY.md §7.4).

    ``delete_scope`` says which target rows the batch's keys are deleted
    from:

    - ``"partition"`` (the default): the ``partition_by`` partitions the
      batch touches, collected in one 2-job ``distinct``. Known divergence
      from dbt, which deletes by key across the WHOLE table: a
      re-delivered key whose corrected timestamp moves it to a different
      month leaves the stale row behind in the old partition.
    - a Column: the rows of the partitions that predicate over the
      ``partition_by`` columns selects. It must select every partition
      the batch can touch; an incremental staging model passes its
      watermark predicate (``models.staging.watermark_predicate``), which
      selected the batch's raw rows. No collect runs. A selected partition
      the batch has no row in is still anti-joined against the batch
      keys, so a key re-delivered into a later month leaves it, which is
      closer to dbt's table-wide delete than ``"partition"``. A selected
      partition every row of which is deleted and that the batch adds
      nothing to keeps its files: dynamic overwrite only replaces the
      partitions it writes.
    - ``"table"``: the full table is anti-joined against the batch keys
      and rewritten (dbt-equivalent result, at full-table-rewrite cost —
      the honest price of cross-partition DELETE without a snapshotting
      table format).

    Returns the partition tuples it rewrote (values of ``partition_by``,
    sorted NULL first) for ``"partition"``, ``[]`` for an empty batch
    there, and ``None`` when it did not collect them: the first-run CTAS
    and ``"table"`` write the whole table, a Column scope the partitions
    its result holds.
    """
    is_column = isinstance(delete_scope, Column)
    if not is_column and delete_scope not in ("partition", "table"):
        raise ValueError(
            f"delete_scope must be 'partition', 'table' or a Column, got {delete_scope!r}"
        )
    if not _path_exists(spark, path):
        # Same co-location discipline as the incremental branch below: key
        # the first-run CTAS on the partition columns so each output
        # partition is written by one task in parallel. Without it a
        # narrow source (one scan task at bench scale; any skewed upstream
        # in production) writes every partition directory serially from
        # one task — measured ~2x the whole first write here.
        overwrite_table(
            batch.repartition(*[F.col(c) for c in partition_by]),
            path,
            partition_by,
        )
        return None
    existing = spark.read.schema(batch.schema).parquet(path)
    keys = batch.select(*unique_key)

    if not is_column and delete_scope == "table":
        survivors = existing.join(keys, on=list(unique_key), how="left_anti")
        result = survivors.select(*batch.columns).unionByName(batch)
        # Materialize before overwriting the path being read (lineage to
        # the source files must be cut or the overwrite corrupts its own
        # input). Full-table rewrite is inherent to table-wide DELETE on
        # plain parquet.
        result = result.localCheckpoint()
        overwrite_table(result, path, partition_by)
        return None

    if is_column:
        scope, parts = delete_scope, None
    else:
        # Restrict the rewrite to the batch's partitions. The distinct
        # list of (year, month) pairs is tiny (one per ingested month) — a
        # safe driver-side collect, mirroring the reference's scalar
        # watermark.
        parts = sorted(
            (tuple(r) for r in batch.select(*partition_by).distinct().collect()),
            key=nulls_first,
        )
        if not parts:
            return parts
        scope = F.lit(False)
        for values in parts:
            cond = F.lit(True)
            for col, val in zip(partition_by, values):
                cond = cond & (F.col(col) == F.lit(val))
            scope = scope | cond

    survivors = existing.filter(scope).join(keys, on=list(unique_key), how="left_anti")
    # Align column order for the positional union.
    result = survivors.select(*batch.columns).unionByName(batch)
    # Co-locate each output partition into one task before the write:
    # without this every write task touches every (year, month) directory
    # and an incremental sink fragments into O(tasks) files per partition
    # per run — the small-files debt compact_table exists to repair.
    # Cheaper to not create it: one shuffle keyed on the partition columns,
    # one file per touched partition. (Partition sizes here are one month
    # of one table; if a single month ever outgrows a task, salt the
    # repartition — see compact_table.)
    result = result.repartition(*[F.col(c) for c in partition_by])
    dynamic_partition_overwrite(result, path, partition_by)
    return parts


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    bucket_cols: Sequence[str],
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed (optionally sorted) managed/external table.

    The co-located-join lever: two tables bucketed on the same key with
    the same bucket count join with ZERO exchange — at 100 TB that
    removes the dominant all-to-all shuffle from every fact-to-fact join
    on the bucket key (tests assert the Exchange-free plan). ``sortBy``
    additionally pre-sorts each bucket file so sort-merge joins skip the
    per-task sort.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def _dir_bytes(spark: SparkSession, path: str) -> int:
    """Recursive on-disk size of a table path (metadata-only FS listing)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(jpath).getLength())


def file_count(total_bytes: int, target_bytes: int) -> int:
    """``ceil(total_bytes / target_bytes)``, at least 1: how many files of
    about ``target_bytes`` hold ``total_bytes``."""
    return max(1, -(-total_bytes // target_bytes))


def data_sized(df: DataFrame) -> DataFrame:
    """``df`` coalesced to the partition count its size estimate needs, so
    a write of it makes data-sized files instead of one per input split.

    The rule follows Spark's file-scan split (``FilePartition.
    maxSplitBytes``) over Spark's own settings, no knob of ours:
    ``spark.sql.files.maxPartitionBytes`` per task, but the estimate is
    spread over the default parallelism while each task keeps at least
    ``maxPartitionBytes / parallelism`` (where Spark's floor is
    ``openCostInBytes``, 4 MB). Small outputs are one task and one file,
    since the per-task cost dominates there; larger ones use every core
    before any task grows past ``maxPartitionBytes``. The estimate is the
    optimized plan's ``sizeInBytes`` (planner statistics: no job);
    ``coalesce`` merges input splits without a shuffle and never raises
    the partition count.
    """
    spark = df.sparkSession
    target = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    cores = spark.sparkContext.defaultParallelism
    estimate = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    split = min(target, max(target // cores, estimate // cores))
    return df.coalesce(file_count(estimate, split))


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    partition_by: Sequence[str] | None = None,
) -> int:
    """Small-file compaction (the OPTIMIZE maintenance op): rewrite a
    parquet table into ~``target_file_mb`` files. Returns the file count
    written.

    Streaming sinks and incremental ingests accumulate many small files;
    at scale the scan's task-scheduling and footer-reading overhead
    becomes O(files), so periodic compaction is part of operating a
    parquet lakehouse. Sizing comes from one FS content summary
    (metadata-only); the rewrite is one job. For partitioned tables the
    repartition is on the partition columns + a uniform salt, so each
    output partition gets ~equal file counts and dynamic overwrite
    rewrites every partition in place.
    """
    n_files = file_count(_dir_bytes(spark, path), target_file_mb * 1024 * 1024)
    df = spark.read.parquet(path)
    if partition_by:
        # shuffle on (partition cols, salt): co-locates each table
        # partition's rows into ~n_files reducers so every partition
        # directory gets few, evenly sized files
        salt = (F.rand(seed=42) * n_files).cast("int")
        out = df.repartition(*[F.col(c) for c in partition_by], salt)
    else:
        out = df.repartition(n_files)
    # localCheckpoint cuts lineage to the files being overwritten —
    # without it the rewrite would read and replace its own input
    out = out.localCheckpoint()
    overwrite_table(out, path, partition_by)
    return n_files


def sorted_write(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    n_files: int | None = None,
) -> None:
    """Range-partitioned, sorted parquet write — the data-skipping layout
    (single-dimension ZORDER analogue).

    ``repartitionByRange`` gives globally disjoint value ranges per file;
    ``sortWithinPartitions`` orders rows inside each, so parquet row-group
    min/max stats let a point/range predicate prune all but ~one file.
    The range exchange samples the sort key to build balanced bounds —
    skew-tolerant without manual tuning."""
    cols = [F.col(c) for c in sort_cols]
    out = df.repartitionByRange(*([n_files] if n_files else []), *cols)
    out.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)


def dynamic_partition_overwrite(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """Overwrite ONLY the partitions present in ``df`` (Spark's dynamic
    partitionOverwriteMode — the ``INSERT OVERWRITE`` the reference's
    idempotent re-ingest wants, without the manual probe+delete dance of
    S11/S12): untouched partitions keep their files, touched partitions
    are atomically replaced per-directory. The mode is set per-write via
    the DataFrameWriter option, not session-wide, so concurrent writers
    with different expectations don't fight over a global conf.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
