"""Table IO: testdata loaders, the committed-state reader and results
upkeep. ``plans.pipeline.run_job`` writes its own bucketed results, spans
and manifest and reads them back through ``read_committed``.
``write_results``/``read_results`` are a separate sink and read (Iceberg
when its runtime jar is present, else the same ``url_bucket=`` parquet
layout), which ``compact_results`` compacts through ``hadoop_fs``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.Class.forName("org.apache.iceberg.spark.source.SparkTable")
        return True
    except Exception:
        return False


def hadoop_fs(spark: SparkSession, path: str):
    """``(fs, Path)``: the Hadoop FileSystem that serves ``path`` — a local
    path, ``file://``, HDFS or an object store, the one Spark reads it
    with — and the JVM ``Path`` class that names entries on it."""
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return Path(path).getFileSystem(conf), Path


def read_committed(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table a job committed at ``path``, or None when nothing
    is committed there: the path is missing, or it is a directory with no
    data files — empty, or holding only the ``_temporary`` of a first
    write killed before its commit (``UNABLE_TO_INFER_SCHEMA``). Every
    other failure raises: a corrupt file, a permission or filesystem
    error. Read as "nothing committed", an unreadable commit marker would
    make a resumed job redo and re-append everything it had committed.

    A missing path is found through the Hadoop FS, never by a failed
    read: in a session with an Observation, a read that fails with
    PATH_NOT_FOUND logs a listener stack trace at ERROR."""
    from pyspark.errors import AnalysisException

    fs, Path = hadoop_fs(spark, path)
    if not fs.exists(Path(path)):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "UNABLE_TO_INFER_SCHEMA":
            return None
        raise


def write_results(df: DataFrame, path_or_table: str, partition_col: str = "url_bucket") -> None:
    spark = df.sparkSession
    if "://" not in path_or_table and "." in path_or_table and iceberg_available(spark):
        df.writeTo(path_or_table).append()
    else:
        df.write.mode("append").partitionBy(partition_col).parquet(path_or_table)


def read_results(
    spark: SparkSession, path: str, merge_schema: bool = True
) -> DataFrame:
    """Read the results table back — the read twin of ``write_results``.

    ``merge_schema=True`` unions column sets across partition files: a
    long-lived 100 TB results table accretes columns as job versions add
    fields, and a schema pinned to one footer silently drops the others'.
    A corrupt file fails the read."""
    return spark.read.option(
        "mergeSchema", str(merge_schema).lower()).parquet(path)


def compact_results(
    spark: SparkSession,
    path: str,
    files_per_bucket: int = 1,
    partition_col: str = "url_bucket",
) -> dict:
    """Small-file compaction of the append-mode results lake — the
    maintenance job a 100 TB deployment runs continuously (every resumed
    ``run_job`` appends one file-set per bucket, so a long-lived table
    accretes thousands of tiny files per partition and scan listing/open
    overhead comes to dominate).

    Spark-first shape: one shuffle keyed on (partition, salt) so each
    bucket's rows land in ``files_per_bucket`` tasks, then a
    ``partitionBy`` write — the compacted layout is identical to the
    original (same partition dirs, same schema, same rows, run_id column
    preserved so manifest-based resume semantics are untouched).

    Commit protocol (plain-parquet fallback): write to ``<path>.compact.tmp``,
    verify the row count matches, then swap directories with the old data
    kept at ``<path>.compact.bak`` until the swap completes. On Iceberg the
    whole dance is replaced by ``rewrite_data_files`` (a snapshot commit);
    this path exists for the sandbox's parquet layout and documents the
    same invariant: readers never observe a partially-compacted table
    (the swap is two renames, and a crash between them leaves either the
    full old table at .bak or the full new one in place).
    """
    from pyspark.sql import functions as F

    tmp = path.rstrip("/") + ".compact.tmp"
    bak = path.rstrip("/") + ".compact.bak"
    fs, Path = hadoop_fs(spark, path)
    table_p, tmp_p, bak_p = Path(path), Path(tmp), Path(bak)

    def rename(src, dst) -> None:
        # Hadoop's rename reports a failure by returning False
        if not fs.rename(src, dst):
            raise OSError(f"compaction: cannot rename {src} to {dst}")

    # crash recovery: a previous compaction killed BETWEEN the two swap
    # renames leaves the table only at .bak — restore it before anything
    # else (readers/resume would otherwise fail until a human intervened)
    if not fs.exists(table_p) and fs.exists(bak_p):
        rename(bak_p, table_p)
    # mergeSchema read: the lake is schema-evolved by design
    # (read_results/COVERAGE 'read_results_evolution'); a single-footer
    # read here would silently drop newer generations' columns from the
    # compacted output — permanent data loss the row-count check cannot see
    df = read_results(spark, path, merge_schema=True)
    n_before = df.count()
    fs.delete(tmp_p, True)
    fs.delete(bak_p, True)
    salt = F.pmod(F.xxhash64("url"), F.lit(files_per_bucket))
    (
        df.repartition(F.col(partition_col), salt)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(tmp)
    )
    n_after = spark.read.parquet(tmp).count()
    if n_after != n_before:
        fs.delete(tmp_p, True)
        raise RuntimeError(
            f"compaction row count mismatch: {n_before} before, "
            f"{n_after} in compacted output — original left untouched"
        )
    rename(table_p, bak_p)
    rename(tmp_p, table_p)
    fs.delete(bak_p, True)
    return {"rows": n_after, "path": path}
