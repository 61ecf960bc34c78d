"""Keyed upsert (merge) — the reference's Postgres ``ON CONFLICT`` path
re-expressed as a DataFrame merge.

Reference semantics (services/sources/implementations/dwh/
postgresql_service.py:181-239, conflict SQL at 213-229):
- ``update``: source row wins on key collision (``DO UPDATE SET
  col = excluded.col`` for the update columns)
- ``nothing``: target row wins (``DO NOTHING``)

``merge_upsert`` is the pure-DataFrame core (one shuffle on the keys);
``upsert_parquet`` is the table-level sink: stage-then-swap so a failed
write never corrupts the target (SURVEY.md §7.4 exactly-once note). On
Delta-enabled clusters, swap the rewrite for ``MERGE INTO``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mini_spark.sources.readers import read_parquet


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_columns: list[str] | None = None,
    conflict_action: str = "update",
) -> DataFrame:
    """Return target merged with source on ``keys``.

    conflict_action='update': colliding target rows are replaced —
    entirely when update_columns is None, else only those columns are
    taken from source. 'nothing': colliding source rows are dropped.
    Plans as two hash joins on the same keys (one shuffle each side;
    AQE broadcasts small sources automatically).
    """
    if conflict_action == "nothing":
        new_rows = source.join(target.select(*keys), keys, "left_anti")
        return target.unionByName(new_rows.select(*target.columns))

    if update_columns is None:
        kept = target.join(source.select(*keys), keys, "left_anti")
        return kept.unionByName(source.select(*target.columns))

    # A __matched flag (not coalesce) distinguishes "no source row" from
    # "source row with an explicit NULL": ON CONFLICT DO UPDATE SET
    # col = excluded.col overwrites with NULL, and so must this
    # (ref postgresql_service.py:213-229 — excluded.col semantics).
    src = source.select(
        *keys,
        F.lit(True).alias("__matched"),
        *[F.col(c).alias(f"__src_{c}") for c in update_columns],
    )
    merged = target.join(src, keys, "left")
    proj = []
    for c in target.columns:
        if c in update_columns:
            proj.append(
                F.when(F.col("__matched"), F.col(f"__src_{c}"))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            proj.append(F.col(c))
    updated = merged.select(*proj)
    new_rows = source.join(target.select(*keys), keys, "left_anti")
    return updated.unionByName(new_rows.select(*target.columns))


def upsert_parquet(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    update_columns: list[str] | None = None,
    conflict_action: str = "update",
) -> None:
    """Merge ``source`` into the parquet table at ``target_path``.

    Write-stage-swap: the merge result lands in ``{path}__stage`` and is
    only then swapped over the target, so a mid-write failure leaves the
    original intact and a retry is idempotent. All path operations go
    through the Hadoop FileSystem API (sources/fs.py) — the same code
    path works on file://, hdfs://, and s3a:// targets, not just local
    disk. The crash window between delete and rename is recoverable
    (the stage dir holds the full merged result); a transactional
    format (Delta/Iceberg MERGE) removes the window entirely.

    The target is read through ``read_parquet``, so its schema comes
    from a footer rather than an inference job."""
    from etl_mini_spark.sources.fs import fs_delete, fs_exists, fs_rename

    existed = fs_exists(spark, target_path)
    if existed:
        target = read_parquet(spark, target_path)
        merged = merge_upsert(target, source, keys, update_columns, conflict_action)
    else:
        merged = source
    stage = target_path.rstrip("/") + "__stage"
    merged.write.mode("overwrite").parquet(stage)
    if existed:
        fs_delete(spark, target_path)
    fs_rename(spark, stage, target_path)
