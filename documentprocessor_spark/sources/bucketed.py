"""Bucketed (co-located) tables: shuffle-free joins on the bucket key.

At 100 TB the recurring cost of joining results/spans/pages on url is the
shuffle of the big side. Writing both sides bucketed by the join key
(``bucketBy(N, key) .sortBy(key)``) pins row placement at write time, so a
later equi-join on that key runs with ZERO Exchange — Catalyst reads both
sides' bucket files pairwise. The extraction job's ``url_bucket=``
directories (``pipeline.bucket_results``) group rows by url hash too, but
Spark does not read them as buckets; this is the catalog-registered form,
and the parquet-era stand-in for Iceberg's ``bucket(N, url)`` partition
transform (SURVEY.md §4.2).

Requires a saveAsTable-style catalog (Spark's local warehouse works); the
test asserts the join plan contains no Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str = "url",
                   n_buckets: int = 16) -> None:
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a crashed previous run can leave the managed location behind with no
    # catalog entry; clear it so saveAsTable is idempotent
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/{table}", ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)  # managed table in the session warehouse
    )


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def plan_has_exchange(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange" in plan
