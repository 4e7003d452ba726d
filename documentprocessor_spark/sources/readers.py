"""Source/sink operators beyond parquet (SURVEY.md §2.1):

- S1/S2: binaryFile directory scan with extension filtering — the Spark
  twin of the reference's image-file loading + format validation
  (/root/reference/Ocr/src/cli/utils.py:74-117). Filtering happens via
  ``pathGlobFilter`` at the SOURCE (partition-prune-style: rejected files
  are never opened), not as a post-filter.
- S3: base64 payload decode — the reference ships every payload as base64
  across process boundaries (/root/reference/Api/
  ServiceSideDocumentProcessor.cs:56,210,365); here it's one codegen'd
  ``unbase64`` expression.
- S5/S6: JSON result sink and scan — the reference's inter-phase handoff
  (/root/reference/Ocr/src/cli/commands.py:441-447,500-531) becomes
  newline-delimited JSON written/read by the JVM JSON source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HTML_EXTENSIONS = ("html", "htm")


def read_binary_dir(
    spark: SparkSession,
    path: str,
    extensions: tuple[str, ...] = HTML_EXTENSIONS,
) -> DataFrame:
    """Directory of raw files → (url=path, content=binary, length, mod_time).

    Extension filtering is pushed into the file listing via pathGlobFilter —
    the source never opens a rejected file (the scan-level analog of the
    reference's validate_image_path)."""
    glob = "*.{" + ",".join(extensions) + "}"
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    return df.select(
        F.col("path").alias("url"),
        F.col("content").alias("html"),
        F.col("length"),
        F.col("modificationTime").alias("warc_ts"),
    )


def binary_dir_to_pages(spark: SparkSession, path: str,
                        extensions: tuple[str, ...] = HTML_EXTENSIONS) -> DataFrame:
    """binaryFile scan shaped into the PAGES contract (text/lang null —
    stage 1 derives them)."""
    return read_binary_dir(spark, path, extensions).select(
        "url",
        F.col("warc_ts").cast("timestamp_ntz").cast("timestamp").alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def decode_base64_column(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    """S3: base64 string column → binary (codegen'd unbase64)."""
    return df.withColumn(out or col, F.unbase64(F.col(col)))


def write_json_results(df: DataFrame, path: str) -> None:
    """S5: newline-delimited JSON sink (the inter-phase handoff format)."""
    df.write.mode("overwrite").json(path)


def read_json_results(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S6: read a prior phase's JSON back (schema recommended — inference
    costs a scan)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_pages(spark: SparkSession, input_path: str, fmt: str = "parquet") -> DataFrame:
    """Load a pages table (url, warc_ts, html, text, lang) from any of the
    supported input formats — the shared input seam of jobs/extract_job.py
    and jobs/phase_job.py.

    ``parquet``: the table as-is. ``warc``: a Common-Crawl WARC directory
    (HTML and PDF response bodies both extract — the kernels content-sniff
    ``%PDF-``). ``pdf-dir``: a directory of .pdf files."""
    if fmt == "warc":
        from .warc import read_warc

        return read_warc(spark, input_path)
    if fmt == "pdf-dir":
        from .pdf import read_pdf_dir

        return read_pdf_dir(spark, input_path).select(
            "url",
            F.lit("1970-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
            F.col("pdf").alias("html"),  # the kernel sniffs %PDF- payloads
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
    if fmt != "parquet":
        raise ValueError(f"unknown pages format: {fmt!r}")
    return spark.read.parquet(input_path)
