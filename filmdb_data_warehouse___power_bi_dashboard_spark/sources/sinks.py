"""Sinks: idempotent merge/upsert and transactional table swap.

Replicates the reference ETL's write semantics on Spark:

- ``merge_upsert``  — `INSERT ... ON CONFLICT (business_key) DO
  UPDATE / DO NOTHING` (sql/datawarehouse/insertion_dataware.sql:37,
  47-48, 73-80, 100-104, 138-143, 186-192) as a join-based merge.
  Delta's `MERGE INTO` would be the managed-table spelling; the jars
  aren't in this image, so the join rewrite is the portable path and
  produces identical results.
- ``stage_and_swap_write`` — the reference wraps the whole refresh in
  one transaction (insertion_dataware.sql:1,197); the Spark analog is
  write-to-staging + atomic directory rename (SURVEY.md §4 X11).

Scale notes: the merge join runs on the business key — at 100 TB the
existing side is large but the incoming batch is typically small.
``merge_upsert`` gives the join no hint: the planner picks a broadcast
from size statistics, and AQE converts the join at runtime once a
shuffled side's measured statistics fall under
``spark.sql.autoBroadcastJoinThreshold``; otherwise both sides
hash-shuffle on the key once and AQE handles skew.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_upsert(
    existing: DataFrame | None,
    incoming: DataFrame,
    business_key: str | list[str],
    do_update: bool = True,
) -> DataFrame:
    """Merge ``incoming`` into ``existing`` on a unique business key.

    do_update=True  → ON CONFLICT DO UPDATE (incoming wins per key)
    do_update=False → ON CONFLICT DO NOTHING (existing wins; insert-if-absent)

    ``incoming`` must be unique on the key (the reference guarantees
    this with unique indexes — insertion_dataware.sql:13-17); callers
    dedupe first.
    """
    keys = [business_key] if isinstance(business_key, str) else list(business_key)
    if existing is None:
        return incoming
    if do_update:
        kept = existing.join(incoming.select(*keys), on=keys, how="left_anti")
        return kept.unionByName(incoming)
    new_rows = incoming.join(existing.select(*keys), on=keys, how="left_anti")
    return existing.unionByName(new_rows)


def stage_and_swap_write(
    df: DataFrame,
    final_path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Write parquet to a staging dir, then swap into place.

    All-or-nothing like the reference's single-transaction refresh:
    the data is fully written before the live path changes, and a
    failure during the swap restores the previous table from backup.

    LOCAL-FS ONLY: the swap uses POSIX ``os.rename``. On HDFS/S3 the
    transactional analog is a metastore pointer swap or a table format
    with commit semantics (Delta/Iceberg) — this sandbox has neither,
    and the rest of the engine never assumes this sink's atomicity.
    """
    parent = os.path.dirname(final_path.rstrip("/"))
    staging = os.path.join(parent, f".staging-{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    backup = final_path.rstrip("/") + ".old"
    if os.path.exists(backup):
        shutil.rmtree(backup)
    had_previous = os.path.exists(final_path)
    if had_previous:
        os.rename(final_path, backup)
    try:
        os.rename(staging, final_path)
    except BaseException:
        # Restore the previous table so readers never see a void.
        if had_previous and not os.path.exists(final_path):
            os.rename(backup, final_path)
        raise
    if os.path.exists(backup):
        shutil.rmtree(backup)


def read_warehouse_table(spark: SparkSession, dw_root: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(dw_root, name))


def delete_by_keys(
    spark: SparkSession,
    table_path: str,
    keys: DataFrame,
    key_cols: str | list[str],
) -> int:
    """Targeted row deletion (GDPR erasure / retention enforcement):
    rewrite the table without any row whose key appears in ``keys``,
    via the atomic stage-and-swap. Returns the number of rows removed.

    The relational DELETE the reference gets from Postgres, re-spelled
    for immutable parquet: an anti-join (key list broadcast — erasure
    request batches are small next to the table) + full rewrite. At
    100 TB the rewrite narrows to affected partitions only: filter the
    key list per partition value and rewrite just those directories
    (the same changed-partition pattern as etl_incremental_agg_refresh);
    Delta/Iceberg deletion vectors are the managed-table spelling.
    """
    cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    table = spark.read.parquet(table_path)
    before = table.count()
    kept = table.join(F.broadcast(keys.select(*cols).distinct()), on=cols, how="left_anti")
    kept = kept.persist()
    after = kept.count()  # materialize BEFORE the swap unlinks the input files
    stage_and_swap_write(kept, table_path)
    kept.unpersist()
    return before - after


def compact_small_files(
    spark: SparkSession,
    table_path: str,
    target_rows_per_file: int = 1_000_000,
) -> tuple[int, int]:
    """Small-file compaction (the maintenance job every streaming /
    incremental sink eventually needs — micro-batch appends leave
    thousands of KB-sized files whose per-file open/footer cost
    dominates scans): rewrite the table into ``ceil(rows/target)``
    files via the atomic stage-and-swap. Returns (files_before,
    files_after).

    ``repartition`` (round-robin), not ``coalesce``: coalesce narrows
    the plan and can skew output sizes by input locality; a compaction
    job WANTS the shuffle — it runs off-peak, and even output files
    are the point. At 100 TB this runs per-partition-directory with
    the same swap, compacting only partitions whose file count drifted
    past a threshold.
    """
    table = spark.read.parquet(table_path)
    n_before = sum(
        1
        for root, _dirs, files in os.walk(table_path)
        for f in files
        if f.endswith(".parquet")
    )
    rows = table.count()
    n_files = max(1, -(-rows // target_rows_per_file))
    compacted = table.repartition(n_files).persist()
    compacted.count()  # materialize BEFORE the swap unlinks the input files
    stage_and_swap_write(compacted, table_path)
    compacted.unpersist()
    n_after = sum(
        1
        for root, _dirs, files in os.walk(table_path)
        for f in files
        if f.endswith(".parquet")
    )
    return n_before, n_after


def cluster_by_layout(
    spark: SparkSession,
    table_path: str,
    cluster_cols: list[str],
    n_files: int,
) -> None:
    """Rewrite a table range-clustered on ``cluster_cols`` so scan
    predicates prune files and row groups instead of reading them.

    Parquet footers carry per-row-group min/max statistics for every
    column, and both Spark's reader and any lakehouse engine skip a
    row group (or a whole file, via its footer) when a pushed-down
    predicate cannot match its [min, max]. Those statistics are only
    selective when the data is CLUSTERED: an append-ordered 100 TB
    events table has every file spanning the full key range, so
    min/max excludes nothing and a one-day query scans everything.
    ``repartitionByRange(cluster_cols)`` + ``sortWithinPartitions``
    makes ranges per file near-disjoint, turning the same footer
    stats into an effective coarse index — the open-format analog of
    Delta/Iceberg ``OPTIMIZE ... ZORDER/SORT BY`` for the
    single-dimension case (for multi-column predicates an interleaved
    key would go here; range-on-leading-column is the 80% tool).

    Runs through the same atomic stage-and-swap as compaction; like
    it, at scale this runs per-partition-directory, clustering only
    partitions whose query profile warrants it. pytest asserts the
    mechanism directly from the rewritten footers: per-file min/max
    ranges are pairwise non-overlapping after clustering (and heavily
    overlapping before), while the table's content is unchanged.
    """
    table = spark.read.parquet(table_path)
    clustered = (
        table.repartitionByRange(n_files, *[F.col(c) for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .persist()
    )
    clustered.count()  # materialize BEFORE the swap unlinks the input files
    stage_and_swap_write(clustered, table_path)
    clustered.unpersist()


def _spread_bits16(c):
    """Spread a 16-bit value's bits onto even positions (0,2,4,...)
    of a 32-bit lane — the classic magic-mask interleave ladder, four
    shift+mask steps, all in whole-stage codegen."""
    c = c.bitwiseAND(F.lit(0xFFFF))
    c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(0x00FF00FF))
    c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(0x33333333))
    c = (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(0x55555555))
    return c


def zorder_key(u, v):
    """Interleave two 16-bit bucket ids into a 32-bit Z-curve key.

    Sorting by this key gives every file a bounding box that is
    compact in BOTH dimensions, so footer min/max stats prune
    single-dimension queries on EITHER column — the property a plain
    lexicographic sort only has for its leading column.
    """
    return _spread_bits16(u).bitwiseOR(F.shiftleft(_spread_bits16(v), 1))


def zorder_by_layout(
    spark: SparkSession,
    table_path: str,
    cols: tuple[str, str],
    n_files: int,
) -> None:
    """Rewrite a table Z-ordered on two columns (the multi-column
    completion of ``cluster_by_layout``; Delta/Iceberg spell it
    ``OPTIMIZE ... ZORDER BY``).

    Each column is scaled to a 16-bit bucket id against its global
    [min, max] (a 1-row aggregate broadcast back via cross join — the
    repo's no-collect spine pattern; a constant column degenerates to
    bucket 0), the ids are bit-interleaved with the magic-mask
    ladder, and the table is range-partitioned + sorted by the
    Z key, which is dropped before the write. All expression-level:
    no UDF, no driver collect, one extra shuffle — exactly what the
    maintenance job budget is for.
    """
    table = spark.read.parquet(table_path)
    a, b = cols
    stats = table.agg(
        F.min(a).alias("__mna"),
        F.max(a).alias("__mxa"),
        F.min(b).alias("__mnb"),
        F.max(b).alias("__mxb"),
    )

    def bucket(c, mn, mx):
        span = F.col(mx) - F.col(mn)
        return F.when(span <= 0, F.lit(0)).otherwise(
            F.floor(
                (F.col(c) - F.col(mn)).cast("double") * 65535.0
                / span.cast("double")
            ).cast("int")
        )

    keyed = (
        table.crossJoin(F.broadcast(stats))
        .withColumn(
            "__z",
            zorder_key(
                bucket(a, "__mna", "__mxa"), bucket(b, "__mnb", "__mxb")
            ),
        )
        .drop("__mna", "__mxa", "__mnb", "__mxb")
    )
    clustered = (
        keyed.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .persist()
    )
    clustered.count()  # materialize BEFORE the swap unlinks the input files
    stage_and_swap_write(clustered, table_path)
    clustered.unpersist()
