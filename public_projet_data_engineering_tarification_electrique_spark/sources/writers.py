"""Sinks.

Reference parity:
- S6 CSV sink (reference:0_insert_conso_an_ville_in_bq.py:40,92)
- S9 warehouse append (reference:0_insert_conso_an_ville_in_bq.py:104-113,
  reference:airflow/dags/insert_conso_jour_region_in_bq.py:100-110)

Scale note: the reference's WRITE_APPEND plus backfill can write
duplicate (region, date) rows (SURVEY.md §2.9). Our daily sink is
idempotent instead: dynamic partition overwrite keyed on the date
partition, so a re-run of a day replaces that day only — no full-table
rewrite, no dup rows, safe backfill at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def append_parquet(df: DataFrame, path: str) -> None:
    """Plain append — the reference's WRITE_APPEND semantics."""
    df.write.mode("append").parquet(path)


def overwrite_date_partition(
    df: DataFrame, path: str, partition_col: str = "date"
) -> None:
    """Idempotent daily append: overwrite only the touched date partitions.

    Requires ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set in
    session.RUNTIME_CONFS). Partitioning the fact table by date also buys
    partition pruning for the trailing-30-day serving scan (P4).
    """
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink with header, mirroring ``to_csv(index=False)`` (S6)."""
    df.write.mode("overwrite").option("header", True).csv(path)


SCRATCH_DB = "spark_graft_scratch"


def _ensure_scratch_db(spark) -> str:
    """Per-PROCESS scratch database for bucketed managed tables.

    The default warehouse (`spark-warehouse/` under the repo cwd) is
    shared by every process launched from the repo — a concurrent
    driver/judge/builder trio races each other's overwrite cleanup
    (FileNotFoundException reproduced in VERDICT r9). Anchoring the
    database LOCATION under this process's atexit-cleaned scratch
    root makes two simultaneous q99 runs write disjoint directories;
    the in-memory catalog entry is per-session already.
    """
    import os

    from ..operators.util import scratch_root

    loc = os.path.join(scratch_root(), "bucketed_db")
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS `{SCRATCH_DB}` LOCATION '{loc}'"
    )
    return SCRATCH_DB


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 8,
    sort_cols: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> str:
    """Bucketed managed table: pre-shuffle data ON WRITE so that every
    later equi-join/aggregation on ``bucket_cols`` is exchange-free.

    The 100 TB lever for repeated joins: two tables bucketed on the same
    key with the same bucket count sort-merge-join with ZERO shuffle —
    each task reads matching bucket files from both sides. ``sort_cols``
    additionally pre-sorts within buckets, removing the join's sort
    step. Costs one shuffle at write time, amortized over every read.

    An UNQUALIFIED name lands in the per-process scratch database
    (concurrent-session safe); a qualified ``db.table`` is honored
    as-is. Returns the fully qualified name — read it back with
    ``spark.table(write_bucketed(...))``.
    """
    spark = df.sparkSession
    if "." in table:
        db, tbl = table.rsplit(".", 1)
    else:
        db, tbl = _ensure_scratch_db(spark), table
    qual = f"`{db}`.`{tbl}`"
    if mode == "overwrite":
        # A fresh session's in-memory catalog does not know tables whose
        # warehouse directories survived an earlier session, and
        # saveAsTable then fails with LOCATION_ALREADY_EXISTS instead of
        # overwriting. Drop the catalog entry AND the stale location.
        # (With a persistent metastore, DROP TABLE alone removes the
        # managed location; the rmtree is the in-memory-catalog fallback.)
        spark.sql(f"DROP TABLE IF EXISTS {qual}")
        # Resolve the managed location the way the catalog will — from
        # the owning database's locationUri (which also respects
        # custom-LOCATION databases like the scratch db, where the old
        # warehouse+db.db guess pointed at the wrong place) — and
        # delete it through the Hadoop FileSystem API, so non-default
        # databases and hdfs://-s3a:// warehouses are handled too.
        db_loc = spark.catalog.getDatabase(db).locationUri
        jvm = spark._jvm
        loc = jvm.org.apache.hadoop.fs.Path(
            f"{db_loc.rstrip('/')}/{tbl.lower()}"
        )
        fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(loc):
            fs.delete(loc, True)
    w = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(qual)
    return qual


def materialize_once(df: DataFrame, path: str) -> DataFrame:
    """S8 — write-once materialization cache: compute+write the frame the
    first time, read the artifact on every later call.

    The reference caches expensive stages as local CSVs behind an
    ``os.path.isfile`` check (reference:0_insert_conso_an_ville_in_bq.py:
    29-30,82-83). The Spark shape is a parquet artifact probed via a
    _SUCCESS marker (atomic: a killed half-written job leaves no marker
    and recomputes). Intra-job reuse should use ``df.cache()`` instead;
    this is for cross-run checkpoints of expensive subplans (the fitted
    forecast, a deduped corpus)."""
    import os

    spark = df.sparkSession
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
