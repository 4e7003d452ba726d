"""Structured Streaming variant of the extraction stage.

The reference is strictly batch (SURVEY.md §2.9 — zero streaming machinery),
but a web-scale ingest typically lands pages continuously; this module runs
the SAME stage-1/stage-2 kernels over a streaming source, so batch and
streaming share one code path (the Catalyst plans differ, the semantics
don't).

- ``stream_pages``: file-source stream of pages parquet → extraction →
  append sink (checkpointed; exactly-once per file with the file source).
- ``windowed_domain_counts``: event-time tumbling-window aggregation with a
  watermark — the late-data pattern for ingest monitoring dashboards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import extract_from_pages
from ..schemas import PAGES


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming pages source (parquet file drops) → streaming results."""
    pages = (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    return extract_from_pages(pages)


def start_extraction_stream(spark: SparkSession, input_dir: str,
                            output_dir: str, checkpoint_dir: str):
    results = stream_pages(spark, input_dir)
    return (
        results.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(pages_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming first-seen-wins URL dedup: the native stateful operator
    (dropDuplicates keeps per-key state bounded by the watermark)."""
    return pages_stream.withWatermark("warc_ts", watermark).dropDuplicates(["url"])


_STATE_SCHEMA = "n_rows long, total_bytes long"


def _make_totals_fn(key_name: str, count_name: str, bytes_name: str):
    """applyInPandasWithState update function: per-key running totals
    accumulated across micro-batches (the custom-stateful-operator pattern —
    SURVEY.md §2.9's streaming gap, filled Spark-natively). Totals are
    monotonically non-decreasing, so the FINAL state per key is the max of
    its update-mode emissions — the property running_totals' consumers use
    to read a deterministic result out of an update sink."""

    def _fn(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int(pdf["size_bytes"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {key_name: [key[0]], count_name: [n], bytes_name: [total]}
        )

    return _fn


def running_totals(prepared: DataFrame, key_col: str,
                   count_name: str = "n_rows",
                   bytes_name: str = "total_bytes") -> DataFrame:
    """Generic stateful streaming totals: `prepared` must have columns
    (key_col, size_bytes long); emits (key_col, count_name, bytes_name)
    running totals per key, update mode. The output key column keeps
    ``prepared``'s key type (an int domain id stays an int — the schema is
    derived, not hardcoded to string; r4 ADVICE fix)."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([
        StructField(key_col, prepared.schema[key_col].dataType),
        StructField(count_name, LongType()),
        StructField(bytes_name, LongType()),
    ])
    return prepared.groupBy(key_col).applyInPandasWithState(
        _make_totals_fn(key_col, count_name, bytes_name),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def domain_running_totals(pages_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming aggregation: per-domain page count + byte
    totals maintained in executor state across micro-batches."""
    prepared = pages_stream.select(
        F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1).alias("domain"),
        F.coalesce(F.length("html"), F.lit(0)).cast("long").alias("size_bytes"),
    )
    return running_totals(prepared, "domain", count_name="n_pages")


def windowed_domain_counts(pages_stream: DataFrame,
                           window: str = "10 minutes",
                           watermark: str = "30 minutes") -> DataFrame:
    """Tumbling-window page counts per domain with late-data watermark."""
    domain = F.regexp_extract(F.col("url"), r"https?://([^/]+)/", 1)
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), domain.alias("domain"))
        .agg(F.count("*").alias("n_pages"))
        .select("w.start", "w.end", "domain", "n_pages")
    )
